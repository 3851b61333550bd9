"""Distributed byte-pair-encoding tokenizer training + encoding.

``train_bpe`` — the Sennrich et al. 2016 (ACL, "Neural Machine
Translation of Rare Words with Subword Units") BPE merge-learning
loop, the tokenizer-construction step of every LLM data pipeline:
start from characters (plus an end-of-word marker), repeatedly count
adjacent symbol pairs across the corpus and merge the most frequent
pair, left-to-right non-overlapping.  ``encode_bpe`` applies a learned
merge table to documents in rank order — the actual tokenizer.

Determinism: the pair argmax tie-breaks on (count desc, left, right),
so the merge sequence is a pure function of the corpus.  The merge
REWRITE is the classic sequential scan (state = one pending symbol);
it runs as a single Catalyst ``aggregate`` fold with a struct
accumulator — zero Python — and the DuckDB oracle replays every round
phrase-for-phrase with a per-word recursive-CTE walk (the same replay
pattern as the LZ76 parse), so the whole training loop is
value-checked end-to-end by an independent engine.

Scale shape: training operates on the DISTINCT-WORD table (word,
count, symbols) — corpus text is touched once, in-row, to build it;
every round shuffles only (symbol-pair, partial-count) pairs with
map-side combine, and the argmax is a 1-row TakeOrdered collect (a
scalar per round, the same class as the connected-components
convergence check — NOT a data collect).  The rewrite is in-row.
Lineage is truncated with ``localCheckpoint`` every few rounds so a
long merge schedule doesn't compound the plan.  At 100 TB the word
table is vocab-sized (10⁶–10⁸ rows), orders of magnitude below the
corpus, which is exactly why classic BPE trainers work off word
counts — the Spark form keeps that table distributed instead of in
one process's dict.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["train_bpe", "encode_bpe", "words_with_symbols"]

END_MARKER = "</w>"


def _apply_merge(syms: Column, a: str, b: str) -> Column:
    """Left-to-right non-overlapping replacement of adjacent (a, b) by
    a+b — the BPE rewrite — as ONE sequential fold: the accumulator
    carries (out, pend) where ``pend`` is the previous symbol not yet
    committed (it may still start a merge with the next element)."""
    merged = F.lit(a + b)
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc: Column, x: Column) -> Column:
        return (
            F.when(
                acc["pend"].isNull(),
                F.struct(acc["out"].alias("out"), x.alias("pend")),
            )
            .when(
                (acc["pend"] == F.lit(a)) & (x == F.lit(b)),
                F.struct(
                    F.concat(acc["out"], F.array(merged)).alias("out"),
                    F.lit(None).cast("string").alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["pend"])).alias("out"),
                    x.alias("pend"),
                )
            )
        )

    def finish(acc: Column) -> Column:
        return F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        )

    return F.aggregate(syms, init, step, finish)


def words_with_symbols(
    docs: DataFrame, text_col: str = "text", end_marker: str = END_MARKER
) -> DataFrame:
    """(word, cnt, syms) — the distinct-word working table: whitespace
    words with corpus counts and their initial symbol sequence
    (characters + the end-of-word marker as its own symbol)."""
    w = F.col("word")
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(w != "")
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
        .withColumn(
            "syms", F.concat(F.split(w, ""), F.array(F.lit(end_marker)))
        )
    )


def train_bpe(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    end_marker: str = END_MARKER,
    checkpoint_every: int = 3,
    return_words: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Learn ``n_merges`` BPE merges; returns the merge table
    (rank, lhs, rhs, merged, pair_count) in learned order.

    Stops early (fewer rows) if the corpus runs out of adjacent pairs.
    ``pair_count`` is the corpus-wide frequency of the pair at the
    round it was chosen — the classic diagnostic column (a sharp drop
    marks where merges stop paying).

    ``return_words=True`` additionally returns the FINAL rewritten
    word table (word, cnt, syms) — the training rewrite applied merge
    by merge, which is exactly ``encode_bpe``'s per-word fold on the
    training corpus (the same equivalence the DuckDB oracle replays) —
    pinned by one eager vocab-sized localCheckpoint so the frame is
    self-contained after the loop's releases.  Caller-owned; blocks
    are freed when the frame is GC'd.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    spark = docs.sparkSession
    from eristropy_spark.operators.cluster import _release_local_checkpoint

    def _release(df: DataFrame, checkpointed: bool) -> None:
        if checkpointed:
            _release_local_checkpoint(df)
        else:
            df.unpersist()

    # ONE action per round: the round's argmax collect both finds the
    # top pair AND faults the current round's persisted rewrite into
    # cache (it scans every partition), so no separate count() job is
    # needed — the parent table is released one round later, once its
    # child is known to be materialized.  Halves the per-round job
    # count of the merge loop (measured 2 jobs/round → 1).
    cur = words_with_symbols(docs, text_col, end_marker).persist()
    cur_ck = False
    prev: tuple[DataFrame, bool] | None = None
    merges: list[tuple[int, str, str, str, int]] = []
    try:
        for rank in range(n_merges):
            n = F.size("syms")
            pairs = (
                cur.filter(n >= 2)
                .select(
                    "cnt",
                    F.explode(
                        F.zip_with(
                            F.slice("syms", 1, n - 1),
                            F.slice("syms", 2, n - 1),
                            lambda x, y: F.struct(
                                x.alias("a"), y.alias("b")
                            ),
                        )
                    ).alias("p"),
                )
                .groupBy("p.a", "p.b")
                .agg(F.sum("cnt").cast("long").alias("c"))
            )
            top = pairs.orderBy(
                F.col("c").desc(), F.col("a"), F.col("b")
            ).limit(1).collect()
            # cur is fully cached now; its parent can be freed
            if prev is not None:
                _release(*prev)
                prev = None
            if not top:
                break
            a, b, c = top[0]["a"], top[0]["b"], int(top[0]["c"])
            merges.append((rank, a, b, a + b, c))
            nxt = cur.withColumn("syms", _apply_merge(F.col("syms"), a, b))
            if (rank + 1) % checkpoint_every == 0:
                # lazy: materializes under the NEXT round's collect,
                # truncating lineage without its own job
                nxt, nxt_ck = nxt.localCheckpoint(eager=False), True
            else:
                nxt, nxt_ck = nxt.persist(), False
            prev, (cur, cur_ck) = (cur, cur_ck), (nxt, nxt_ck)
        if return_words:
            # the final table has NOT been materialized yet (each
            # table materializes under the NEXT round's collect, and
            # there is none after the last round) and its lineage
            # roots at localCheckpoints whose blocks the loop frees —
            # so pin it NOW with one eager localCheckpoint (one cheap
            # vocab-sized job) BEFORE the normal releases run; the
            # returned frame is then self-contained (immune to cache
            # clears), caller-owned, freed on GC
            words_out = cur.localCheckpoint(eager=True)
    finally:
        _release(cur, cur_ck)
        if prev is not None:
            _release(*prev)
    mdf = spark.createDataFrame(
        merges, "rank int, lhs string, rhs string, merged string, pair_count long"
    )
    if return_words:
        return mdf, words_out
    return mdf


def encode_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    end_marker: str = END_MARKER,
    dedupe_words: bool = True,
    words_syms: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_words, n_tokens, tokens) — documents encoded with a
    learned merge list (rank order = list order): each word restarts
    from characters + marker, then every merge is applied in sequence;
    ``tokens`` is the concatenation over the document's words.

    Two pure-codegen plans, identical output (equivalence-tested):

    * ``dedupe_words=True`` (default — the classic tokenizer cache):
      each DISTINCT word is encoded once on the vocab-sized word
      table, then joins back to the document word stream and
      reassembles in order.  Zipf means the corpus word stream is
      orders of magnitude larger than its vocabulary, so the
      |merges|-deep fold chain (Catalyst evaluates higher-order
      lambdas interpreted) runs ~unique/total as often; the cost is
      one word-keyed shuffle + a per-doc collect.
    * ``dedupe_words=False``: the merge schedule unrolls into nested
      in-row folds — ZERO shuffle, right when the fold cost is small
      (short docs, few merges) or shuffles are the bottleneck.

    ``words_syms`` (word, syms) is the rewritten word table of a
    ``train_bpe(return_words=True)`` run on the SAME corpus and merge
    list; it replaces the per-word fold of the default plan.  A stream
    word missing from it fails the job (``raise_error``) instead of
    dropping out of ``tokens``, and it cannot be combined with
    ``dedupe_words=False``.
    """
    if words_syms is not None and not dedupe_words:
        raise ValueError("words_syms needs dedupe_words=True")
    words = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    if not dedupe_words:
        per_word = F.transform(
            words,
            lambda w: F.concat(F.split(w, ""), F.array(F.lit(end_marker))),
        )
        enc = F.transform(per_word, lambda s: _fold_merges(s, merges))
        tokens = F.flatten(enc)
        return docs.select(
            F.col(id_col).alias("doc_id"),
            F.size(words).alias("n_words"),
            F.size(tokens).alias("n_tokens"),
            tokens.alias("tokens"),
        )

    from eristropy_spark.functions.partitioning import widen_narrow_input

    # spread the scan first: the word-stream explode and the per-doc
    # reassembly otherwise run as wide as the input split count
    docs = widen_narrow_input(docs)
    stream = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(words).alias("_wi", "_word"),
    )
    if words_syms is not None:
        # the caller already holds the rewritten word table (e.g.
        # train_bpe(return_words=True) on the SAME corpus and merge
        # list): the training rewrite applied merge-by-merge IS the
        # per-word fold below (the equivalence the DuckDB oracle
        # replays), so skip refolding the |merges|-deep interpreted
        # chain over every distinct word
        wtab = words_syms.select(
            F.col("word").alias("_word"), F.col("syms").alias("_syms")
        )
        stream = stream.join(wtab, "_word", "left").withColumn(
            "_syms",
            F.when(
                F.col("_syms").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("encode_bpe: word missing from words_syms: "),
                        F.col("_word"),
                    )
                ),
            ).otherwise(F.col("_syms")),
        )
    else:
        syms0 = F.concat(
            F.split(F.col("_word"), ""), F.array(F.lit(end_marker))
        )
        wtab = (
            stream.select("_word")
            .distinct()
            .withColumn("_syms", _fold_merges(syms0, merges))
        )
        stream = stream.join(wtab, "_word")
    per_doc = (
        stream.groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_wi", "_syms"))
                    ),
                    lambda s: s["_syms"],
                )
            ).alias("tokens"),
            F.count("*").cast("int").alias("n_words"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            # size() first coalesces the array: size(NULL) is -1 under
            # the session's non-ANSI legacy semantics
            F.coalesce(
                "tokens", F.array().cast("array<string>")
            ).alias("tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            F.size("tokens").alias("n_tokens"),
            "tokens",
        )
    )


def _fold_merges(syms: Column, merges: list[tuple[str, str]]) -> Column:
    for a, b in merges:
        syms = _apply_merge(syms, a, b)
    return syms
