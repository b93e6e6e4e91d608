"""Seed-to-input determinism of the generators."""

import numpy as np

import gen


def test_same_seed_same_documents():
    a = gen.documents(7, 300, template_share=0.25)
    b = gen.documents(7, 300, template_share=0.25)
    assert gen.checksum(a) == gen.checksum(b)
    assert a.equals(b)


def test_other_seed_other_documents():
    assert gen.checksum(gen.documents(7, 300)) != gen.checksum(gen.documents(8, 300))


def test_id_ranges_are_disjoint_and_independent():
    base = gen.documents(7, 100)
    delta = gen.documents(7, 20, first_id=100)
    assert base.column("doc_id").to_pylist() == list(range(100))
    assert delta.column("doc_id").to_pylist() == list(range(100, 120))


def test_template_share_makes_near_duplicates():
    docs = gen.documents(3, 400, template_share=0.5).column("text").to_pylist()
    templated = np.array([t.split(" ") for t in docs if len(t.split(" ")) == gen.TEMPLATE_LEN])
    # the share is seeded: about half the pages
    assert 150 < len(templated) < 250
    # pages of one template differ in at most 2 * TEMPLATE_EDITS positions
    same = (templated[:, None, :] == templated[None, :, :]).sum(axis=2)
    np.fill_diagonal(same, 0)
    near = same.max(axis=1) >= gen.TEMPLATE_LEN - 2 * gen.TEMPLATE_EDITS
    assert near.mean() > 0.95


def test_english_only_and_tagging():
    docs = gen.documents(5, 50, langs=False)
    assert set(docs.column("lang").to_pylist()) == {"en"}
    tagged = gen.tag_tokens(docs, "r001")
    for t, u in zip(docs.column("text").to_pylist(), tagged.column("text").to_pylist()):
        assert u.split(" ") == [w + "r001" for w in t.split(" ")]
    assert tagged.column("n_chars").to_pylist() == [len(u) for u in tagged.column("text").to_pylist()]
