from inputs import DUP_RATE, SOURCES, VOCAB, documents_frame


def test_same_seed_same_documents():
    assert documents_frame(400, 3).equals(documents_frame(400, 3))


def test_seed_deals_texts_within_their_source_class():
    a, b = documents_frame(400, 1), documents_frame(400, 2)
    assert not a["text"].equals(b["text"])
    assert a["source"].equals(b["source"])
    for k in range(SOURCES):
        cls = a["doc_id"] % SOURCES == k
        assert sorted(a["text"][cls]) == sorted(b["text"][cls])


def test_documents_shape():
    d = documents_frame(1000, 7)
    words = d["text"].str.split()
    dups = d["text"].str.endswith(" dup")
    assert dups.sum() == round(DUP_RATE * len(d))
    assert not d["text"].str.contains("dup dup").any()
    assert words[~dups].str.len().between(10, 100).all()
    assert set(w for ws in words for w in ws) == set(VOCAB) | {"dup"}
    assert (d["source"] == "src" + (d["doc_id"] % SOURCES).astype(str)).all()
