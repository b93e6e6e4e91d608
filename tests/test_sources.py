"""Source readers (SURVEY.md §2.1): JSON-lines, PubTator, XML, CTD TSV."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nilinker_spark.operators.graph import single_parent
from nilinker_spark.sources.corpora import (
    read_ctd_tsv_kb,
    read_jsonl_corpus,
    read_pubtator_corpus,
    read_xml_corpus,
    write_corpus_fixtures,
)


@pytest.fixture(scope="module")
def fixtures(tmp_path_factory):
    base = str(tmp_path_factory.mktemp("corpora"))
    return write_corpus_fixtures(base)


def test_ctd_tsv_kb(spark, fixtures):
    concepts, aliases, edges = read_ctd_tsv_kb(spark, fixtures["tsv"])
    assert concepts.count() == 20
    # every concept's canonical name is an alias; synonyms are extras
    assert aliases.filter(~F.col("is_synonym")).count() == 20
    assert aliases.filter(F.col("is_synonym")).count() >= 1
    # root has no parent edge
    assert edges.filter(F.col("child_id") == "MESH:D000").count() == 0
    # multi-valued parent cells exploded to one row per edge
    multi = edges.groupBy("child_id").count().filter(F.col("count") > 1)
    assert multi.count() >= 1


def test_single_parent_dim(spark, fixtures):
    _, _, edges = read_ctd_tsv_kb(spark, fixtures["tsv"])
    sp = single_parent(edges)
    # children with >1 parent are excluded
    multi_children = {r["child_id"] for r in edges.groupBy("child_id").count().filter(F.col("count") > 1).collect()}
    got = {r["child_id"] for r in sp.collect()}
    assert got.isdisjoint(multi_children)
    assert len(got) > 0


def test_jsonl_corpus(spark, fixtures):
    _, _, edges = read_ctd_tsv_kb(spark, fixtures["tsv"])
    parents = single_parent(edges)
    ann = read_jsonl_corpus(spark, fixtures["jsonl"], parents)
    rows = ann.collect()
    assert len(rows) > 0
    # every surviving annotation has an ancestor (inner parent join)
    assert all(r["ancestor_id"] is not None for r in rows)
    assert all(r["kb_id"].startswith("MESH:") for r in rows)
    # mention dedup per doc
    assert ann.groupBy("doc_id", "mention").count().filter(F.col("count") > 1).count() == 0


def test_pubtator_corpus(spark, fixtures):
    ann = read_pubtator_corpus(spark, fixtures["pubtator"])
    rows = ann.collect()
    assert len(rows) > 0
    assert {r["doc_id"] for r in rows} == {f"pd{d}" for d in range(fixtures["n_docs"])}
    # composite ids 'a|b' reduced to the first id
    assert all("|" not in r["kb_id"] and r["kb_id"].startswith("MESH:") for r in rows)


def test_xml_corpus(spark, fixtures):
    ann = read_xml_corpus(spark, fixtures["xml"])
    rows = ann.collect()
    assert len(rows) > 0
    assert all(r["doc_id"].startswith("xd") for r in rows)
    assert all(r["kb_id"].startswith("MESH:") for r in rows)


def test_gsc_corpus(spark, fixtures):
    from nilinker_spark.sources.corpora import read_gsc_corpus

    ann = read_gsc_corpus(spark, fixtures["gsc"])
    rows = ann.collect()
    assert len(rows) > 0
    assert all(r["kb_id"].startswith("HP_") for r in rows)
    assert all(not r["mention"].startswith(" ") for r in rows)
    # doc_id is the bare file name
    assert all(r["doc_id"].startswith("gd") for r in rows)
    assert ann.groupBy("doc_id", "mention").count().filter(F.col("count") > 1).count() == 0


def test_phaedra_corpus(spark, fixtures):
    from nilinker_spark.sources.corpora import read_phaedra_corpus

    ann = read_phaedra_corpus(spark, fixtures["phaedra"])
    rows = ann.collect()
    assert len(rows) > 0
    # MeSH: rewritten to MESH_; non-MeSH refs dropped entirely
    assert all(r["kb_id"].startswith("MESH_") for r in rows)
    assert not any(r["mention"].startswith("dropped") for r in rows)
    # T-rows (non-normalization) never contribute
    assert not any(r["mention"] == "ignored text" for r in rows)
    assert all(r["doc_id"].startswith("phd") for r in rows)


def test_chebi_patents_corpus(spark, fixtures):
    from nilinker_spark.sources.corpora import read_chebi_patents_corpus

    ann = read_chebi_patents_corpus(spark, fixtures["patents"])
    rows = ann.collect()
    assert len(rows) > 0
    ids = {r["kb_id"] for r in rows}
    # NIL triggers: missing id, WO-prefixed, comma-multivalued
    assert "NIL" in ids
    assert not any(i.startswith("WO") for i in ids)
    assert not any("," in i for i in ids)
    assert all(r["doc_id"].startswith("WO") for r in rows)


def test_chebi_3star_three_table_join(spark, fixtures):
    from nilinker_spark.sources.corpora import read_chebi_3star_kb

    concepts, aliases, edges = read_chebi_3star_kb(
        spark, fixtures["chebi_relations"], fixtures["chebi_compounds"], fixtures["chebi_names"]
    )
    n = fixtures["n_chebi"]
    # non-is_a rows ignored; one edge per is_a row
    assert edges.count() == n - 1
    cset = {r["kb_id"] for r in concepts.collect()}
    # 'null'-named compound excluded; compound outside the relation set excluded
    assert "CHEBI:3" not in cset
    assert "CHEBI:999" not in cset
    assert cset <= {f"CHEBI:{i}" for i in range(n)}
    syn = aliases.filter(F.col("is_synonym"))
    assert syn.filter(F.col("alias") == "dropped syn").count() == 0
    assert syn.count() > 0


def test_umls_to_hp_chained_join(spark, tmp_path_factory):
    from nilinker_spark.sources.corpora import (
        read_obo_kb,
        read_obo_umls_xrefs,
        medmentions_umls_to_hp,
        write_obo_fixture,
    )

    base = tmp_path_factory.mktemp("umls")
    obo = str(base / "hp.obo")
    write_obo_fixture(obo)
    xrefs = read_obo_umls_xrefs(spark, obo)
    xr = {r["umls_id"]: r["kb_id"] for r in xrefs.collect()}
    assert xr, "fixture has UMLS xrefs"
    assert all(v.startswith("KB:") for v in xr.values())

    _, _, edges = read_obo_kb(
        spark, obo
    )
    kb_edges = edges.withColumnRenamed("parent_id", "parent_id")
    # annotations: two mapped UMLS ids (one whose HP term has 1 parent),
    # one unmapped
    umls_ids = sorted(xr)
    ann = spark.createDataFrame(
        [("d1", "m1", umls_ids[0]), ("d1", "m2", umls_ids[1]), ("d2", "m3", "C9999999")],
        "doc_id string, mention string, kb_id string",
    )
    out = medmentions_umls_to_hp(ann, xrefs, kb_edges)
    rows = out.collect()
    # unmapped UMLS id never survives
    assert all(r["kb_id"].startswith("KB:") for r in rows)
    assert all(r["ancestor_id"] is not None for r in rows)
    got_mentions = {r["mention"] for r in rows}
    assert "m3" not in got_mentions


def test_duplicate_payload_survivor_is_deterministic(spark, tmp_path_factory):
    """When one dedup key carries several payload values, the survivor is
    the MIN (never partition-order-dependent dropDuplicates)."""
    from nilinker_spark.sources.corpora import read_gsc_corpus

    base = tmp_path_factory.mktemp("gsc_dup")
    # same (doc, mention) annotated with two ids -> min id must survive
    (base / "doc1").write_text("1\tHP_0000002 |\tfever\n2\tHP_0000001 |\tfever\n")
    out = read_gsc_corpus(spark, str(base)).collect()
    assert len(out) == 1 and out[0]["kb_id"] == "HP_0000001"


def test_alias_collision_concept_name_wins(spark, tmp_path_factory):
    """(alias, kb_id) present as both concept name and synonym -> the
    is_synonym=False row survives (min over booleans), deterministically."""
    from nilinker_spark.sources.corpora import read_ctd_tsv_kb

    base = tmp_path_factory.mktemp("ctd_dup")
    p = base / "kb.tsv"
    p.write_text(
        "# header\n"
        "aspirin\tMESH:D001\t\tMESH:D000\t\t\t\taspirin|acid\n"
    )
    _, aliases, _ = read_ctd_tsv_kb(spark, str(p))
    rows = {(r["alias"], r["kb_id"]): r["is_synonym"] for r in aliases.collect()}
    assert rows[("aspirin", "MESH:D001")] is False
    assert rows[("acid", "MESH:D001")] is True
