"""train_bpe / encode_bpe — merge-sequence parity with a literal
classic BPE implementation, encode parity, determinism across
partitionings, early-stop and validation behavior."""

from collections import Counter

import pytest

from eristropy_spark.operators.bpe import encode_bpe, train_bpe


def _bpe_local(texts: list[str], k: int):
    """Literal Sennrich-style BPE on word counts (reference model)."""
    words = Counter(w for t in texts for w in t.split(" ") if w)
    syms = {w: list(w) + ["</w>"] for w in words}
    merges = []
    for r in range(k):
        pc: Counter = Counter()
        for w, c in words.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        if not pc:
            break
        (a, b), c = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((r, a, b, a + b, c))
        for w in syms:
            s = syms[w]
            out: list[str] = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges, syms


def _encode_local(text: str, merges):
    toks: list[str] = []
    for w in text.split(" "):
        if not w:
            continue
        s = list(w) + ["</w>"]
        for _, a, b, _, _ in merges:
            out: list[str] = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            s = out
        toks.extend(s)
    return toks


TEXTS = [
    "low lower lowest low low",
    "new newer newest new",
    "wide wider widest",
    "low new low new lower newer",
    "the lowest of the low",
]


def _docs_df(spark, texts=TEXTS):
    return spark.createDataFrame(
        [(f"d{i}", t) for i, t in enumerate(texts)],
        "doc_id string, text string",
    )


def test_train_matches_local_reference(spark):
    got = train_bpe(_docs_df(spark), n_merges=8).collect()
    want, _ = _bpe_local(TEXTS, 8)
    assert [
        (r["rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in got
    ] == want


def test_train_partition_invariant(spark):
    df1 = _docs_df(spark).coalesce(1)
    df8 = _docs_df(spark).repartition(8)
    a = [tuple(r) for r in train_bpe(df1, n_merges=6).collect()]
    b = [tuple(r) for r in train_bpe(df8, n_merges=6).collect()]
    assert a == b


def test_train_early_stop_single_chars(spark):
    # every word one char -> round 1 merges (x, </w>) pairs, and a tiny
    # corpus exhausts mergeable pairs before n_merges
    df = spark.createDataFrame([("a", "x y x")], "doc_id string, text string")
    rows = train_bpe(df, n_merges=50).collect()
    want, _ = _bpe_local(["x y x"], 50)
    assert len(rows) == len(want) < 50
    assert [tuple(r) for r in rows] == want


def test_train_validates(spark):
    with pytest.raises(ValueError, match="n_merges"):
        train_bpe(_docs_df(spark), n_merges=0)


def test_encode_matches_local(spark):
    merges_rows = train_bpe(_docs_df(spark), n_merges=8).collect()
    merges = [(r["lhs"], r["rhs"]) for r in merges_rows]
    full = [tuple(r) for r in merges_rows]
    out = {
        r["doc_id"]: r
        for r in encode_bpe(_docs_df(spark), merges).collect()
    }
    for i, t in enumerate(TEXTS):
        want = _encode_local(t, full)
        r = out[f"d{i}"]
        assert r["tokens"] == want
        assert r["n_tokens"] == len(want)
        assert r["n_words"] == len([w for w in t.split(" ") if w])


def test_encode_compresses(spark):
    """More merges -> never more tokens, and the learned merges beat
    the char baseline on the training corpus."""
    df = _docs_df(spark)
    merges_rows = train_bpe(df, n_merges=8).collect()
    merges = [(r["lhs"], r["rhs"]) for r in merges_rows]
    base = {r["doc_id"]: r["n_tokens"] for r in encode_bpe(df, []).collect()}
    enc = {r["doc_id"]: r["n_tokens"] for r in encode_bpe(df, merges).collect()}
    assert all(enc[k] <= base[k] for k in base)
    assert sum(enc.values()) < sum(base.values())


def test_encode_paths_equivalent(spark):
    merges_rows = train_bpe(_docs_df(spark), n_merges=8).collect()
    merges = [(r["lhs"], r["rhs"]) for r in merges_rows]
    df = _docs_df(spark)
    a = sorted(
        (r["doc_id"], r["n_words"], r["n_tokens"], tuple(r["tokens"]))
        for r in encode_bpe(df, merges, dedupe_words=True).collect()
    )
    b = sorted(
        (r["doc_id"], r["n_words"], r["n_tokens"], tuple(r["tokens"]))
        for r in encode_bpe(df, merges, dedupe_words=False).collect()
    )
    assert a == b


def test_encode_empty_doc(spark):
    df = spark.createDataFrame(
        [("a", "x y"), ("empty", "")], "doc_id string, text string"
    )
    out = {
        r["doc_id"]: r for r in encode_bpe(df, [("x", "</w>")]).collect()
    }
    assert out["empty"]["n_words"] == 0
    assert out["empty"]["n_tokens"] == 0
    assert out["empty"]["tokens"] == []
    assert out["a"]["tokens"] == ["x</w>", "y", "</w>"]


def test_encode_words_syms_reuse_and_guards(spark):
    df = _docs_df(spark)
    mdf, words = train_bpe(df, n_merges=8, return_words=True)
    merges = [(r["lhs"], r["rhs"]) for r in mdf.collect()]

    def rows(enc):
        return sorted(
            (r["doc_id"], r["n_words"], r["n_tokens"], tuple(r["tokens"]))
            for r in enc.collect()
        )

    assert rows(encode_bpe(df, merges, words_syms=words)) == rows(
        encode_bpe(df, merges)
    )
    with pytest.raises(ValueError, match="dedupe_words"):
        encode_bpe(df, merges, dedupe_words=False, words_syms=words)
    # a stream word absent from the word table fails the job instead of
    # silently dropping out of the encoded tokens
    other = _docs_df(spark, ["low unseen"])
    with pytest.raises(Exception, match="word missing from words_syms: unseen"):
        encode_bpe(other, merges, words_syms=words).collect()
