"""Corpus / KB source readers (SURVEY.md §2.1), Spark-relational.

Each reader mirrors one of the reference's file parsers but produces the
unified annotations DataFrame ``(doc_id, mention, kb_id, ancestor_id)``
— the Spark shape of the reference's ``{doc: {mention: [id, anc]}}``
dicts (/root/reference/src/utils/utils.py:190-193) — or a KB dimension.

Readers declare explicit schemas (never infer) and keep the parse
relational: ``from_json`` for JSON-lines, split/regexp projections for
PubTator and TSV, and mapInPandas only for the XML corpus where a real
parser is genuinely needed.  Fixture writers are seeded pure functions so
round-trips are testable without external data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nilinker_spark.operators.graph import single_parent


def _annotations(rows: DataFrame, parents: DataFrame | None = None) -> DataFrame:
    """(doc_id, mention, kb_id) rows -> the annotations shape.

    One survivor per (doc, mention): its min kb_id, the deterministic
    pick when a mention carries several ids.  ``ancestor_id`` is the
    survivor's parent from ``parents(child_id, parent_id)`` — an inner
    join, so ids without a single parent drop — else null."""
    ann = rows.groupBy("doc_id", "mention").agg(F.min("kb_id").alias("kb_id"))
    if parents is None:
        return ann.withColumn("ancestor_id", F.lit(None).cast("string"))
    return ann.join(F.broadcast(parents), ann.kb_id == parents.child_id, "inner").select(
        "doc_id", "mention", "kb_id", F.col("parent_id").alias("ancestor_id")
    )


def _kb_aliases(names: DataFrame, syns: DataFrame) -> DataFrame:
    """Concept names + synonyms, each ``(alias, kb_id)`` ->
    ``(alias, kb_id, is_synonym)``, one row per (alias, kb_id).  When a
    pair is both a concept name and a synonym the name row survives:
    min(False) < min(True), under any partitioning (dropDuplicates is
    not)."""
    return (
        names.withColumn("is_synonym", F.lit(False))
        .unionByName(syns.withColumn("is_synonym", F.lit(True)))
        .groupBy("alias", "kb_id")
        .agg(F.min("is_synonym").alias("is_synonym"))
    )


def _obo_stanzas(spark: SparkSession, path: str) -> DataFrame:
    """One row per ``[Term]`` stanza (column ``s``) of an OBO file: a
    wholetext read split on the stanza header."""
    raw = spark.read.text(path, wholetext=True)
    return raw.select(F.explode(F.split("value", r"\[Term\]")).alias("s")).filter(
        F.col("s").contains("id:")
    )


def _xml_annotations(spark: SparkSession, glob: str, rows_of) -> DataFrame:
    """One XML file per document -> annotations.  ``rows_of(path, root)``
    yields the (doc_id, mention, kb_id) rows of the file at ``path`` with
    parsed root element ``root``; the whole-file read and the stdlib
    parse run inside mapInPandas."""
    files = spark.read.format("binaryFile").load(glob).select("path", "content")

    def parse(batches):
        import xml.etree.ElementTree as ET

        import pandas as pd

        for pdf in batches:
            rows = [
                row
                for p, content in zip(pdf["path"], pdf["content"])
                for row in rows_of(p, ET.fromstring(bytes(content).decode("utf-8")))
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "mention", "kb_id"])

    return _annotations(files.mapInPandas(parse, "doc_id string, mention string, kb_id string"))


# ---------------------------------------------------------------------------
# JSON-lines corpus (≙ parse_PBDMS, /root/reference/src/evanil/annotations.py:56-149)
# ---------------------------------------------------------------------------

_JSONL_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField(
            "mentions",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("mesh_id", T.StringType()),
                        T.StructField("mention", T.StringType()),
                        T.StructField("start_offset", T.LongType()),
                        T.StructField("end_offset", T.LongType()),
                    ]
                )
            ),
        ),
    ]
)


def read_jsonl_corpus(spark: SparkSession, path: str, parents: DataFrame) -> DataFrame:
    """JSON-lines docs -> annotations: explode the mentions array, prefix
    ids (≙ 'MESH:' + mesh_id, annotations.py:107), inner-join the parent
    dim (mentions whose concept lacks a single parent are dropped,
    ≙ annotations.py:112-119), first-mention-wins dedup per doc."""
    docs = spark.read.schema(_JSONL_SCHEMA).json(path)
    rows = docs.select(F.col("_id").alias("doc_id"), F.explode("mentions").alias("m")).select(
        "doc_id",
        F.col("m.mention").alias("mention"),
        F.concat(F.lit("MESH:"), F.col("m.mesh_id")).alias("kb_id"),
    )
    return _annotations(rows, parents)


# ---------------------------------------------------------------------------
# PubTator text corpus (≙ parse_MedMentions / parse_Pubtator,
# /root/reference/src/evanil/annotations.py:254-307, src/REEL/annotations.py:14-115)
# ---------------------------------------------------------------------------


def read_pubtator_corpus(spark: SparkSession, path: str) -> DataFrame:
    """PubTator blocks: ``id|t|title`` / ``id|a|abstract`` lines plus
    annotation rows ``id<TAB>start<TAB>end<TAB>mention<TAB>type<TAB>kb``.

    Pure projections: filter out title/abstract rows, split the TSV rows
    by position (the reference hard-codes [3] and [5] the same way,
    annotations.py:279-283), normalize composite ids (take the first of
    'a|b' / 'a+b', ≙ REEL/annotations.py id fix-ups)."""
    lines = spark.read.text(path)
    ann = lines.filter(
        ~F.col("value").contains("|t|") & ~F.col("value").contains("|a|") & (F.length("value") > 0)
    )
    parts = F.split(F.col("value"), "\t")
    kb_raw = F.try_element_at(parts, F.lit(6))
    kb_first = F.split(kb_raw, "[|+]")[0]
    rows = ann.select(
        F.try_element_at(parts, F.lit(1)).alias("doc_id"),
        F.try_element_at(parts, F.lit(4)).alias("mention"),
        F.when(kb_first.startswith("MESH:") | kb_first.startswith("OMIM:"), kb_first)
        .otherwise(F.concat(F.lit("MESH:"), kb_first))
        .alias("kb_id"),
    )
    return _annotations(rows.filter(F.col("mention").isNotNull() & F.col("kb_id").isNotNull()))


# ---------------------------------------------------------------------------
# knowtator-style XML corpus (≙ parse_CRAFT, annotations.py:152-251)
# ---------------------------------------------------------------------------


def read_xml_corpus(spark: SparkSession, path: str) -> DataFrame:
    """One XML file per doc: <annotation><span .../><class id= text=/></annotation>.

    Whole-file read + stdlib XML parse inside mapInPandas (the one §2.1
    source where a real parser beats regexes)."""
    return _xml_annotations(spark, path + "/*.xml", _knowtator_rows)


def _knowtator_rows(path: str, root):
    import os

    doc_id = os.path.basename(path).rsplit(".", 1)[0]
    for a in root.iter("annotation"):
        cls = a.find("class")
        if cls is not None:
            yield doc_id, cls.get("text") or "", cls.get("id") or ""


# ---------------------------------------------------------------------------
# GSC+ corpus (≙ parse_GSC_corpus, /root/reference/src/REEL/annotations.py:118-148)
# ---------------------------------------------------------------------------


def read_gsc_corpus(spark: SparkSession, path: str) -> DataFrame:
    """GSC+ annotation files: one file per doc, lines
    ``<span>\\t<HP id> | <mention text>``; doc_id = file name.

    Relational: text scan + input_file_name + split projections — the
    reference's per-line ``annot.split('|')`` / ``split('\\t')[1][:-1]``
    (annotations.py:139-143) as column expressions."""
    lines = spark.read.text(path).withColumn(
        "doc_id", F.regexp_extract(F.input_file_name(), "([^/]+)$", 1)
    )
    halves = F.split(F.col("value"), "\\|", 2)
    rows = lines.filter(F.length("value") > 0).select(
        "doc_id",
        F.trim(F.try_element_at(halves, F.lit(2))).alias("mention"),
        F.trim(F.try_element_at(F.split(F.try_element_at(halves, F.lit(1)), "\t"), F.lit(2))).alias(
            "kb_id"
        ),
    )
    return _annotations(rows.filter(F.col("mention").isNotNull() & (F.length("kb_id") > 0)))


# ---------------------------------------------------------------------------
# PHAEDRA corpus (≙ parse_phaedra_corpus, REEL/annotations.py:151-186)
# ---------------------------------------------------------------------------


def read_phaedra_corpus(spark: SparkSession, path: str) -> DataFrame:
    """PHAEDRA brat ``.a1`` files under train/dev/test: normalization rows
    start with 'N', kb ref is the 3rd space-field of column 2, MeSH only;
    ``MeSH:`` ids are rewritten ``MESH_`` (annotations.py:175-177);
    doc_id = file stem."""
    lines = spark.read.text(f"{path}/*/*.a1").withColumn(
        "doc_id",
        F.regexp_extract(F.input_file_name(), "([^/]+)\\.a1$", 1),
    )
    parts = F.split(F.col("value"), "\t")
    kb_ref = F.try_element_at(F.split(F.try_element_at(parts, F.lit(2)), " "), F.lit(3))
    rows = (
        lines.filter(F.try_element_at(parts, F.lit(1)).startswith("N"))
        .select(
            "doc_id",
            F.trim(F.try_element_at(parts, F.lit(3))).alias("mention"),
            kb_ref.alias("kb_ref"),
        )
        .filter(F.col("kb_ref").startswith("MeSH"))
    )
    return _annotations(
        rows.select("doc_id", "mention", F.regexp_replace("kb_ref", "^MeSH:", "MESH_").alias("kb_id"))
    )


# ---------------------------------------------------------------------------
# ChEBI patents corpus (≙ parse_chebi_patents, REEL/annotations.py:189-225)
# ---------------------------------------------------------------------------


def read_chebi_patents_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Patent dirs each holding ``scrapbook.xml``; annotations are the
    ``<ne>`` elements under ``<snippet>``.  A chebi-id that is missing,
    ``WO``-prefixed, or comma-multivalued becomes the NIL id
    (annotations.py:207-215).  XML needs a real parser — mapInPandas,
    like the knowtator reader."""
    return _xml_annotations(spark, path + "/*/scrapbook.xml", _chebi_patent_rows)


def _chebi_patent_rows(path: str, root):
    import os

    doc_id = os.path.basename(os.path.dirname(path))
    for snippet in root.iter("snippet"):
        for ne in snippet.findall("ne"):
            if ne.text is None:
                continue
            cid = ne.get("chebi-id")
            if not cid or cid.startswith("WO") or "," in cid:
                cid = "NIL"
            yield doc_id, ne.text, cid


# ---------------------------------------------------------------------------
# ChEBI 3-star KB: three-table join (≙ KnowledgeBase.load_chebi,
# /root/reference/src/utils/kbs.py:201-305)
# ---------------------------------------------------------------------------


def read_chebi_3star_kb(
    spark: SparkSession, relations_path: str, compounds_path: str, names_path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """relation_3star.tsv + compounds_3star.tsv + names_3star.tsv ->
    (concepts, aliases, edges).

    The reference builds ``terms_to_include`` from the is_a relations and
    filters both the compounds and synonym tables against it
    (kbs.py:216-271) — here those membership checks are semi-joins
    against the distinct edge-endpoint frame (broadcastable: the KB is
    the small side at any corpus scale)."""
    rel = spark.read.csv(relations_path, sep="\t").toDF("rel_id", "rel_type", "child", "parent")
    edges = rel.filter(F.col("rel_type") == "is_a").select(
        F.concat(F.lit("CHEBI:"), F.col("child")).alias("child_id"),
        F.concat(F.lit("CHEBI:"), F.col("parent")).alias("parent_id"),
    )
    terms = (
        edges.select(F.col("child_id").alias("kb_id"))
        .unionByName(edges.select(F.col("parent_id").alias("kb_id")))
        .distinct()
    )

    comp = spark.read.csv(compounds_path, sep="\t").toDF(
        "c0", "c1", "kb_id", "c3", "c4", "name"
    )
    concepts = (
        comp.filter(F.col("name") != "null")
        .join(F.broadcast(terms), "kb_id")
        .select("kb_id", "name")
        .groupBy("kb_id")
        .agg(F.min("name").alias("name"))
        .withColumn("is_root", F.lit(False))
    )

    names = spark.read.csv(names_path, sep="\t").toDF("n0", "cid", "n2", "n3", "alias")
    syns = (
        names.select(F.concat(F.lit("CHEBI:"), F.col("cid")).alias("kb_id"), "alias")
        .join(F.broadcast(terms), "kb_id")
        .select("alias", "kb_id")
    )
    aliases = _kb_aliases(concepts.select(F.col("name").alias("alias"), "kb_id"), syns)
    return concepts, aliases, edges


# ---------------------------------------------------------------------------
# UMLS -> HP chained mapping join (≙ parse_MedMentions filter chain,
# /root/reference/src/evanil/annotations.py:275-300 + the xref mapping of
# kbs.py:105-113)
# ---------------------------------------------------------------------------


def read_obo_umls_xrefs(spark: SparkSession, path: str) -> DataFrame:
    """(umls_id, kb_id) from ``xref: UMLS:...`` lines of an OBO file —
    the mapping the reference builds while loading HP (kbs.py:105-113)."""
    return (
        _obo_stanzas(spark, path).select(
            F.regexp_extract("s", r"(?m)^id: (\S+)", 1).alias("kb_id"),
            F.expr(r"regexp_extract_all(s, '(?m)^xref: UMLS:(\\S+)', 1)").alias("umls"),
        )
        .filter(F.length("kb_id") > 0)
        .select(F.explode("umls").alias("umls_id"), "kb_id")
        .groupBy("umls_id")
        .agg(F.min("kb_id").alias("kb_id"))
    )


def medmentions_umls_to_hp(
    ann: DataFrame, umls_to_hp: DataFrame, edges: DataFrame
) -> DataFrame:
    """MedMentions annotations (kb_id = UMLS id) -> HP-linked annotations:
    keep mentions whose UMLS id maps to an HP concept AND whose HP concept
    has exactly one direct ancestor; output carries the ancestor as the
    EvaNIL gold (annotations.py:285-295).  Two broadcast joins — the
    mapping and the single-parent dim are KB-sized."""
    sp = single_parent(edges)
    return (
        ann.select("doc_id", "mention", F.col("kb_id").alias("umls_id"))
        .join(F.broadcast(umls_to_hp), "umls_id")
        .join(F.broadcast(sp), F.col("kb_id") == sp.child_id)
        .select("doc_id", "mention", "kb_id", F.col("parent_id").alias("ancestor_id"))
        # paired min keeps (kb_id, ancestor_id) from the SAME source row
        .groupBy("doc_id", "mention")
        .agg(F.min(F.struct("kb_id", "ancestor_id")).alias("s"))
        .select("doc_id", "mention", "s.kb_id", "s.ancestor_id")
    )


# ---------------------------------------------------------------------------
# CTD-style TSV KB (≙ KnowledgeBase.load_tsv, /root/reference/src/utils/kbs.py:144-199)
# ---------------------------------------------------------------------------


def read_ctd_tsv_kb(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Tab TSV with '#' comment header, |-separated multi-valued parent and
    synonym cells -> (concepts, aliases, edges) dimension frames.

    comment='#' replaces the reference's skip-29-rows; split+explode
    replaces its per-cell Python loops (kbs.py:168-178)."""
    raw = spark.read.csv(path, sep="\t", comment="#").toDF(
        "name", "kb_id", "alt", "parents", "tree", "x0", "x1", "synonyms"
    )
    concepts = raw.select("kb_id", "name").withColumn("is_root", F.lit(False))
    syns = (
        raw.filter(F.col("synonyms").isNotNull())
        .select(F.explode(F.split("synonyms", "\\|")).alias("alias"), "kb_id")
        .filter(F.length("alias") > 0)
    )
    aliases = _kb_aliases(raw.select(F.col("name").alias("alias"), "kb_id"), syns)
    edges = (
        raw.filter(F.col("parents").isNotNull())
        .select(F.col("kb_id").alias("child_id"), F.explode(F.split("parents", "\\|")).alias("parent_id"))
        .filter(F.length("parent_id") > 0)
    )
    return concepts, aliases, edges


# ---------------------------------------------------------------------------
# seeded fixture writers (no external data; SURVEY.md §5)
# ---------------------------------------------------------------------------


def write_corpus_fixtures(base: str, seed: int = 42, n_docs: int = 40) -> dict:
    """Write one fixture file/dir per format; returns paths + expected counts."""
    import json
    import os

    import numpy as np

    rng = np.random.default_rng(seed)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "theta", "kappa"]
    concepts = [f"D{i:03d}" for i in range(20)]

    os.makedirs(base, exist_ok=True)
    # KB TSV: name, id, alt, parents(|), tree, x0, x1, synonyms(|)
    tsv_path = os.path.join(base, "kb.tsv")
    with open(tsv_path, "w") as f:
        f.write("# CTD-style header\n# more header\n")
        for i, c in enumerate(concepts):
            parents = "" if i == 0 else f"MESH:{concepts[int(rng.integers(0, i))]}"
            if i > 10 and rng.random() < 0.3:
                parents += f"|MESH:{concepts[int(rng.integers(0, i))]}"
            syns = "|".join(f"{words[int(rng.integers(0,8))]} {c.lower()}" for _ in range(int(rng.integers(0, 3))))
            f.write(f"{words[i % 8]} {c.lower()}\tMESH:{c}\t\t{parents}\t\t\t\t{syns}\n")

    # JSON-lines corpus
    jsonl_path = os.path.join(base, "corpus.jsonl")
    n_jsonl_mentions = 0
    with open(jsonl_path, "w") as f:
        for d in range(n_docs):
            ms = []
            for _ in range(int(rng.integers(1, 5))):
                c = concepts[int(rng.integers(0, 20))]
                ms.append(
                    {"mesh_id": c, "mention": f"{words[int(rng.integers(0,8))]} {c.lower()}", "start_offset": 0, "end_offset": 5}
                )
            n_jsonl_mentions += len(ms)
            f.write(json.dumps({"_id": f"jd{d}", "title": "t", "text": "x", "mentions": ms}) + "\n")

    # PubTator corpus
    pub_path = os.path.join(base, "corpus.pubtator")
    with open(pub_path, "w") as f:
        for d in range(n_docs):
            f.write(f"pd{d}|t|some title\npd{d}|a|some abstract\n")
            for _ in range(int(rng.integers(1, 4))):
                c = concepts[int(rng.integers(0, 20))]
                comp = f"MESH:{c}" if rng.random() < 0.7 else f"MESH:{c}|MESH:{concepts[0]}"
                f.write(f"pd{d}\t0\t5\t{words[int(rng.integers(0,8))]} {c.lower()}\tChemical\t{comp}\n")
            f.write("\n")

    # knowtator-style XML dir
    xml_dir = os.path.join(base, "xml")
    os.makedirs(xml_dir, exist_ok=True)
    for d in range(min(n_docs, 10)):
        anns = "".join(
            f'<annotation><span start="0" end="5"/><class id="MESH:{concepts[int(rng.integers(0,20))]}" text="{words[int(rng.integers(0,8))]}"/></annotation>'
            for _ in range(int(rng.integers(1, 4)))
        )
        with open(os.path.join(xml_dir, f"xd{d}.xml"), "w") as f:
            f.write(f"<document>{anns}</document>")

    # GSC+ style annotation dir: one file per doc, "span\tHP_id | mention"
    gsc_dir = os.path.join(base, "gsc")
    os.makedirs(gsc_dir, exist_ok=True)
    for d in range(min(n_docs, 8)):
        with open(os.path.join(gsc_dir, f"gd{d}"), "w") as f:
            for _ in range(int(rng.integers(1, 4))):
                c = concepts[int(rng.integers(0, 20))]
                f.write(f"12::25\tHP_{c} | {words[int(rng.integers(0,8))]} {c.lower()}\n")

    # PHAEDRA brat dirs: train/dev/test with .a1 files; N-rows carry MeSH
    ph_dir = os.path.join(base, "phaedra")
    for split in ("train", "dev", "test"):
        os.makedirs(os.path.join(ph_dir, split), exist_ok=True)
    n_phaedra_mesh = 0
    for d in range(min(n_docs, 9)):
        split = ("train", "dev", "test")[d % 3]
        with open(os.path.join(ph_dir, split, f"phd{d}.a1"), "w") as f:
            f.write(f"T1\tPharmacological_substance 0 5\tignored text\n")
            for j in range(int(rng.integers(1, 4))):
                c = concepts[int(rng.integers(0, 20))]
                if rng.random() < 0.75:
                    f.write(f"N{j}\tReference T1 MeSH:{c}\t{words[int(rng.integers(0,8))]} {c.lower()}\n")
                    n_phaedra_mesh += 1
                else:  # non-MeSH refs must be dropped by the reader
                    f.write(f"N{j}\tReference T1 CHEBI:{c}\tdropped {c.lower()}\n")

    # ChEBI patents: one dir per patent with scrapbook.xml; include the
    # NIL triggers (missing id, WO-prefixed, comma-multivalued)
    pat_dir = os.path.join(base, "patents")
    for d in range(min(n_docs, 6)):
        pd_dir = os.path.join(pat_dir, f"WO{d:04d}")
        os.makedirs(pd_dir, exist_ok=True)
        nes = []
        for j in range(int(rng.integers(1, 5))):
            r = rng.random()
            if r < 0.5:
                attr = f' chebi-id="CHEBI:{int(rng.integers(1, 99))}"'
            elif r < 0.7:
                attr = ' chebi-id="WO123"'
            elif r < 0.85:
                attr = ' chebi-id="CHEBI:1,CHEBI:2"'
            else:
                attr = ""
            nes.append(f"<ne{attr}>{words[int(rng.integers(0,8))]} pat{d}x{j}</ne>")
        with open(os.path.join(pd_dir, "scrapbook.xml"), "w") as f:
            f.write(f"<scrapbook><snippet>{''.join(nes)}</snippet></scrapbook>")

    # ChEBI 3-star TSV triple (relation / compounds / names)
    rel_path = os.path.join(base, "relation_3star.tsv")
    comp_path = os.path.join(base, "compounds_3star.tsv")
    names_path = os.path.join(base, "names_3star.tsv")
    n_chebi = 15
    with open(rel_path, "w") as f:
        for i in range(1, n_chebi):
            f.write(f"r{i}\tis_a\t{i}\t{int(rng.integers(0, i))}\n")
        f.write("rX\thas_part\t1\t2\n")  # non-is_a rows are ignored
    with open(comp_path, "w") as f:
        for i in range(n_chebi):
            name = "null" if i == 3 else f"compound {i}"
            f.write(f"x\ty\tCHEBI:{i}\tz\tw\t{name}\n")
        f.write("x\ty\tCHEBI:999\tz\tw\tnot in relations\n")
    with open(names_path, "w") as f:
        for i in range(0, n_chebi, 2):
            f.write(f"a\t{i}\tb\tc\tsyn {i}\n")
        f.write("a\t999\tb\tc\tdropped syn\n")

    return {
        "tsv": tsv_path,
        "jsonl": jsonl_path,
        "pubtator": pub_path,
        "xml": xml_dir,
        "gsc": gsc_dir,
        "phaedra": ph_dir,
        "patents": pat_dir,
        "chebi_relations": rel_path,
        "chebi_compounds": comp_path,
        "chebi_names": names_path,
        "n_chebi": n_chebi,
        "n_docs": n_docs,
        "n_jsonl_mentions": n_jsonl_mentions,
        "n_phaedra_mesh": n_phaedra_mesh,
    }


# ---------------------------------------------------------------------------
# PubTator sink (≙ /root/reference/src/evanil/dataset.py:452-474,
# annotations.py:118-143) — parity-checkable round trip with the reader
# ---------------------------------------------------------------------------


def write_pubtator(ann: DataFrame, docs: DataFrame, path: str) -> None:
    """annotations(doc_id, mention, kb_id, ...) + docs(doc_id, title, text)
    -> PubTator text blocks.  Pure concat_ws projections; one output line
    per row, blocks reassembled by sorting on (doc_id, line_rank)."""
    title_lines = docs.select(
        F.col("doc_id"),
        F.lit(0).alias("rank"),
        F.concat_ws("|", "doc_id", F.lit("t"), "title").alias("line"),
    )
    abstract_lines = docs.select(
        F.col("doc_id"),
        F.lit(1).alias("rank"),
        F.concat_ws("|", "doc_id", F.lit("a"), "text").alias("line"),
    )
    ann_lines = ann.select(
        F.col("doc_id"),
        F.lit(2).alias("rank"),
        F.concat_ws(
            "\t", "doc_id", F.lit("0"), F.lit("5"), "mention", F.lit("Entity"), "kb_id"
        ).alias("line"),
    )
    (
        title_lines.unionByName(abstract_lines)
        .unionByName(ann_lines)
        .orderBy("doc_id", "rank", "line")
        .select("line")
        # PARITY-EXPORT ONLY (VERDICT r4 #8): the reference format is ONE
        # globally-ordered text file, so this write is a single task by
        # design.  Never copy this into a pipeline sink — bulk exports go
        # through partitionBy/parquet (like the Pipeline's stage tables).
        .coalesce(1)
        .write.mode("overwrite")
        .text(path)
    )


# ---------------------------------------------------------------------------
# OBO-style ontology scan (≙ KnowledgeBase.load_obo,
# /root/reference/src/utils/kbs.py:28-142)
# ---------------------------------------------------------------------------


def read_obo_kb(spark: SparkSession, path: str, namespace: str | None = None):
    """OBO stanza file -> (concepts, aliases, edges).

    Stanzas split relationally: read wholetext, split on '[Term]', explode,
    then regexp_extract projections per field.  Reference-parity filters:
    obsolete terms dropped (kbs.py:78-82), optional namespace filter
    (kbs.py:56-63), OMIM xrefs excluded (kbs.py:65-71), synonyms override
    names on alias collision (≙ {**name_to_id, **synonym_to_id},
    word_concept.py:40) via a precedence dedup."""
    term = _obo_stanzas(spark, path).select(
        F.regexp_extract("s", r"(?m)^id: (\S+)", 1).alias("kb_id"),
        F.regexp_extract("s", r"(?m)^name: (.+)$", 1).alias("name"),
        F.regexp_extract("s", r"(?m)^namespace: (\S+)", 1).alias("ns"),
        F.col("s").contains("is_obsolete: true").alias("is_obsolete"),
        F.expr(r"regexp_extract_all(s, '(?m)^is_a: (\\S+)', 1)").alias("parents"),
        F.expr(r"""regexp_extract_all(s, '(?m)^synonym: "([^"]+)"', 1)""").alias("syns"),
    ).filter(F.length("kb_id") > 0)

    live = term.filter(~F.col("is_obsolete")).filter(~F.col("kb_id").startswith("OMIM"))
    if namespace:
        live = live.filter(F.col("ns") == namespace)

    concepts = live.select("kb_id", "name", (F.size("parents") == 0).alias("is_root"))
    names = live.select(F.col("name").alias("alias"), "kb_id", F.lit(False).alias("is_synonym"))
    syns = live.select(F.explode("syns").alias("alias"), "kb_id").withColumn(
        "is_synonym", F.lit(True)
    )
    # synonyms take precedence on collision: sort within alias, keep first
    from nilinker_spark.operators.corpus import top_k

    aliases = top_k(
        names.unionByName(syns), "alias", [F.desc("is_synonym"), F.asc("kb_id")], 1
    ).drop("rank")
    edges = live.select(F.col("kb_id").alias("child_id"), F.explode("parents").alias("parent_id"))
    return concepts, aliases, edges


def write_obo_fixture(path: str, seed: int = 7, n_terms: int = 30) -> dict:
    """Seeded OBO stanza fixture with obsolete terms, multi-parent nodes,
    namespaces, OMIM xref ids, and a colliding name/synonym pair."""
    import numpy as np

    rng = np.random.default_rng(seed)
    lines = ["format-version: 1.2\n"]
    n_obsolete = 0
    for i in range(n_terms):
        lines.append("[Term]")
        lines.append(f"id: KB:{i:04d}")
        lines.append(f"name: term {i}")
        lines.append(f"namespace: {'biological_process' if i % 2 == 0 else 'other'}")
        if i > 0:
            lines.append(f"is_a: KB:{int(rng.integers(0, i)):04d}")
            if i > 10 and rng.random() < 0.3:
                lines.append(f"is_a: KB:{int(rng.integers(0, i)):04d}")
        if i % 7 == 3:
            lines.append('synonym: "alt term %d" EXACT []' % i)
        if i == 5:
            lines.append('synonym: "term 4" EXACT []')  # collides with name of 4
        if i % 5 == 2:
            lines.append(f"xref: UMLS:C{i:06d}")  # HP-style UMLS xref
        if i % 11 == 10:
            lines.append("is_obsolete: true")
            n_obsolete += 1
        lines.append("")
    lines.append("[Term]\nid: OMIM:123\nname: excluded omim\n")
    with open(path, "w") as f:
        f.write("\n".join(lines))
    return {"n_terms": n_terms, "n_obsolete": n_obsolete}
