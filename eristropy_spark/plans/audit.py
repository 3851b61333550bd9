"""Physical-plan audit helpers — the engine's 100 TB design rules as
executable checks (SURVEY.md §4.2, PLANS.md).

Each check inspects the EXECUTED plan string for a structural property
that must hold for the plan to survive a 100x scale-up:

* parquet scans show ReadSchema pruned to the referenced columns,
* filters reach the scan (PushedFilters),
* the entropy projection is ONE Python boundary (a single MapInArrow)
  with NO Exchange (zero-shuffle),
* tokenize carries exactly one Exchange (the group-by key),
* the cascade's hour tier reads the cached minute aggregate — never
  re-runs the entropy UDF,
* small dimension sides broadcast (tpch_q3, semi_join).

``tools/plan_audit.py`` is the CLI wrapper; tests may call
``audit_checks`` directly.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

__all__ = ["plan_of", "audit_checks"]

# nodes that mark a Python-worker boundary in an executed plan
_PY_NODES = (
    "ArrowEvalPython",
    "MapInArrow",
    "PythonMapInArrow",
    "MapInPandas",
    "FlatMapGroupsInPandas",
)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _py_node_count(plan: str) -> int:
    return sum(plan.count(n) for n in _PY_NODES)


def audit_checks(spark, sf_dir: str) -> list[tuple[str, bool, str]]:
    """Run every plan check; returns (name, passed, plan_text) rows."""
    import __spark_entry__ as entrymod

    from eristropy_spark.operators.entropy import compute_entropy
    from eristropy_spark.operators.rollup import cascade, entropy_points
    from eristropy_spark.sources.tokens import events_to_tokens, synthesize_tokens

    checks: list[tuple[str, bool, str]] = []

    # 1. column pruning + predicate pushdown on a filtered scan
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = ev.where(F.col("event_type") == "click").select("user_id", "value")
    p = plan_of(q)
    pushed = (
        "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]" in p
    )
    pruned = re.search(r"ReadSchema:.*user_id.*value", p) and "props" not in p.split(
        "ReadSchema"
    )[1][:200]
    checks.append(("filter pushed to parquet scan", pushed, p))
    checks.append(("scan schema pruned to referenced columns", bool(pruned), p))

    # 2. the entropy projection (compute_entropy, and entropy_points over
    # it): one Python boundary, no shuffle
    tok = synthesize_tokens(spark, 1000, seed=1, partitions=8)
    for name, df in (
        ("compute_entropy", compute_entropy(tok, m=2, r=0.2, normalize=True)),
        ("entropy_points", entropy_points(tok, m=2, r=0.2)),
    ):
        p = plan_of(df)
        checks.append(
            (f"{name}: exactly one Python boundary, zero shuffles",
             _py_node_count(p) == 1 and "Exchange" not in p, p)
        )

    # 3. tokenize: single shuffle on the group key
    t = events_to_tokens(spark, sf_dir)
    p = plan_of(t)
    checks.append(
        ("tokenize: exactly one Exchange (groupBy key)", p.count("Exchange") == 1, p)
    )

    # 4. cascade hour tier reads the minute aggregate, not raw points twice
    pts2 = entropy_points(tok, m=2, r=0.2).persist()
    pts2.count()
    tiers = cascade(pts2)
    p = plan_of(tiers["1hour"])
    # the UDF may appear textually inside the InMemoryRelation's cached-plan
    # description; what matters is that execution reads the cache
    # (InMemoryTableScan) and never re-runs the UDF above it
    above_cache = p.split("InMemoryRelation")[0]
    checks.append(
        ("hour tier: merges minute aggregate from cache, no UDF re-run",
         p.count("HashAggregate") >= 4
         and "InMemoryTableScan" in p
         and _py_node_count(above_cache) == 0, p)
    )
    pts2.unpersist()

    # 5. tpch_q3: customer side broadcast
    q3 = entrymod.queries()["tpch_q3"](spark, sf_dir)
    p = plan_of(q3)
    checks.append(
        ("tpch_q3: BroadcastHashJoin on customer dim", "BroadcastHashJoin" in p, p)
    )

    # 6. semi-join planned as a (broadcast) left-semi hash join
    sj = entrymod.queries()["semi_join"](spark, sf_dir)
    p = plan_of(sj)
    checks.append(("semi_join: LeftSemi hash join", "LeftSemi" in p, p))

    # 7. as-of join: the union+window plan — no join operator at all,
    # exactly one Exchange above the scans (the window partitioning)
    aj = entrymod.queries()["asof_join"](spark, sf_dir)
    p = plan_of(aj)
    checks.append(("asof_join: zero join operators (union+window plan)",
                   "Join" not in p, p))
    checks.append(("asof_join: window runs on ONE key shuffle",
                   "Window" in p and "hashpartitioning(user_id" in p, p))

    # 8. interval join: equi-join + residual filter, never a nested-loop
    # cross product (the thing the bucketing exists to prevent)
    ij = entrymod.queries()["interval_join"](spark, sf_dir)
    p = plan_of(ij)
    checks.append(
        ("interval_join: hash equi-join, no BroadcastNestedLoopJoin/cartesian",
         ("BroadcastNestedLoopJoin" not in p)
         and ("CartesianProduct" not in p)
         and ("Join" in p), p)
    )

    # 9. round-4 text/quality operators: the per-document ones
    # (gopher/c4/chunking) must be pure in-row codegen — zero shuffle,
    # zero Python nodes; the repetition stat shuffles only (doc, gram)
    for qname, label in (
        ("gopher_filters", "gopher_filters: in-row codegen, zero shuffle/Python"),
        ("c4_clean", "c4_clean: in-row codegen, zero shuffle/Python"),
        ("chunk_text", "chunk_text: in-row codegen, zero shuffle/Python"),
    ):
        q = entrymod.queries()[qname](spark, sf_dir)
        p = plan_of(q)
        checks.append(
            (label, "Exchange" not in p and _py_node_count(p) == 0, p)
        )
    nr = entrymod.queries()["ngram_repetition"](spark, sf_dir)
    p = plan_of(nr)
    checks.append(
        ("ngram_repetition: two-phase gram count (partial+final HashAggregate), no Python",
         _py_node_count(p) == 0 and p.count("HashAggregate") >= 2, p)
    )

    # 10. round-5 pipeline operators.  decontaminate: the benchmark
    # gram set must broadcast (corpus grams never shuffle to a join)
    # and no Python anywhere; scrub_pii: pure in-row codegen.
    dc = entrymod.queries()["decontaminate"](spark, sf_dir)
    p = plan_of(dc)
    checks.append(
        ("decontaminate: ONE corpus gram pass, benchmark grams "
         "broadcast, no Python",
         "BroadcastHashJoin" in p
         and "SortMergeJoin" not in p
         # each _gram_hashes expression prints the hash twice (lambda +
         # whole-text branch); corpus once + benchmark once = 4.  The
         # old two-branch shape re-hashed the corpus and let an
         # inferred size()>0 filter push a third copy into the scan
         # (6+ occurrences)
         and p.count("xxhash64(concat_ws") == 4
         and _py_node_count(p) == 0, p)
    )
    sp = entrymod.queries()["scrub_pii"](spark, sf_dir)
    p = plan_of(sp)
    checks.append(
        ("scrub_pii: in-row codegen, zero shuffle/Python",
         "Exchange" not in p and _py_node_count(p) == 0, p)
    )

    # 11. pack_sequences: ONE shuffle (the shard partitioning) feeding
    # both windows — per-shard prefix sums, never a global-order
    # single-partition window; no Python; scan pruned to (doc_id, text)
    pk = entrymod.queries()["pack_sequences"](spark, sf_dir)
    p = plan_of(pk)
    pruned_pk = re.search(r"ReadSchema:[^\n]*doc_id[^\n]*text", p) and not re.search(
        r"ReadSchema:[^\n]*(lang|source|n_chars)", p
    )
    checks.append(
        ("pack_sequences: one shard Exchange, both windows shard-partitioned, no Python",
         p.count("Exchange") == 1
         and "hashpartitioning(shard" in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0
         and bool(pruned_pk), p)
    )

    # 12. mix_corpus: pure in-row expression + bounded explode — no
    # shuffle, no Python; build_vocab: two-phase token count (partial+
    # final HashAggregate) finished by TakeOrderedAndProject (bounded
    # per-partition heap), never a global Sort
    mx = entrymod.queries()["mix_corpus"](spark, sf_dir)
    p = plan_of(mx)
    checks.append(
        ("mix_corpus: in-row md5 mix + explode, zero shuffle/Python",
         "Exchange" not in p and _py_node_count(p) == 0, p)
    )
    bv = entrymod.queries()["build_vocab"](spark, sf_dir)
    p = plan_of(bv)
    checks.append(
        ("build_vocab: two-phase count + TakeOrdered top-k, no global sort",
         p.count("HashAggregate") >= 2
         and "TakeOrderedAndProject" in p
         and _py_node_count(p) == 0, p)
    )

    # 13. fingerprinting: winnow is pure in-row codegen (hash + select
    # where the document lives); duplicate_spans shuffles gram hashes
    # only — a LeftSemi mark join, never a nested-loop/cartesian, and
    # zero Python
    fw = entrymod.queries()["fingerprint_winnow"](spark, sf_dir)
    p = plan_of(fw)
    checks.append(
        # the one allowed Exchange is the input-widening round-robin
        # repartition (narrow local input -> full-width hashing); the
        # fingerprinting itself stays in-row — no key shuffle, no
        # inferred-filter serial re-hash (Generate must be OUTER so
        # InferFiltersFromGenerate can't push the hash into the scan)
        ("fingerprint_winnow: in-row codegen, widen-only Exchange, "
         "no inferred-filter re-hash, no Python",
         p.count("Exchange") <= 1
         and "hashpartitioning" not in p
         # the word-hash expression exists in exactly ONE projection —
         # an inferred size()>0 filter would duplicate it into the scan
         and p.count("md5") == 1
         and _py_node_count(p) == 0, p)
    )
    ds = entrymod.queries()["duplicate_spans"](spark, sf_dir)
    p = plan_of(ds)
    checks.append(
        ("duplicate_spans: gram-keyed LeftSemi mark join, no cartesian/Python",
         "LeftSemi" in p
         and "BroadcastNestedLoopJoin" not in p
         and "CartesianProduct" not in p
         and _py_node_count(p) == 0, p)
    )

    fo = entrymod.queries()["fingerprint_overlap"](spark, sf_dir)
    p = plan_of(fo)
    checks.append(
        ("fingerprint_overlap: fp-keyed equi-join on the sketch, no cartesian/Python",
         "Join" in p
         and "BroadcastNestedLoopJoin" not in p
         and "CartesianProduct" not in p
         and _py_node_count(p) == 0, p)
    )

    # 13a. shuffle_corpus: the no-global-sort corpus permutation — ONE
    # hash exchange on shard + a per-shard LOCAL sort; a
    # rangepartitioning exchange (global sort) or SinglePartition
    # window would serialize the corpus
    sc = entrymod.queries()["shuffle_corpus"](spark, sf_dir)
    p = plan_of(sc)
    checks.append(
        ("shuffle_corpus: one shard hash Exchange, local sort only, no Python",
         p.count("Exchange") == 1
         and "hashpartitioning(shard" in p
         and "rangepartitioning" not in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    # 13b. unigram_logprob: the reference table and its one-row totals
    # BROADCAST (corpus text never shuffles into a join); the only
    # sort-merge-free joins allowed; no Python anywhere
    ul = entrymod.queries()["unigram_logprob"](spark, sf_dir)
    p = plan_of(ul)
    checks.append(
        ("unigram_logprob: vocab+totals broadcast, no sort-merge join, no Python",
         "BroadcastHashJoin" in p
         and "SortMergeJoin" not in p
         and _py_node_count(p) == 0, p)
    )

    # 14. rolling_stats: ONE key shuffle feeding a RANGE-frame window —
    # bounded trailing frames only (the unbounded-following frame is the
    # O(partition²) trap this repo already replaced in gapfill), never a
    # single-partition window, no Python
    rs = entrymod.queries()["rolling_stats"](spark, sf_dir)
    p = plan_of(rs)
    checks.append(
        ("rolling_stats: one key Exchange, bounded RANGE trailing frame, no Python",
         p.count("Exchange") == 1
         and "hashpartitioning(user_id" in p
         and "SinglePartition" not in p
         and "RangeFrame" in p
         and "unboundedfollowing" not in p.lower()
         and _py_node_count(p) == 0, p)
    )

    # 15. ohlc_rollup: ONE exchange with a two-phase aggregate (min_by
    # on a struct key is sort-based, but partial+final still means
    # map-side combine — the shuffle carries one small state per
    # group); acf: in-row array math — no shuffle beyond tokenize's
    # one, no Python
    oh = entrymod.queries()["ohlc_rollup"](spark, sf_dir)
    p = plan_of(oh)
    checks.append(
        ("ohlc_rollup: one Exchange, two-phase (partial+final) aggregate, no Python",
         p.count("Exchange") == 1
         and (p.count("SortAggregate") + p.count("HashAggregate")
              + p.count("ObjectHashAggregate")) >= 2
         and _py_node_count(p) == 0, p)
    )
    ac = entrymod.queries()["acf"](spark, sf_dir)
    p = plan_of(ac)
    checks.append(
        ("acf: ONE Arrow boundary, only tokenize's Exchange (no "
         "interpreted higher-order-function path)",
         p.count("Exchange") == 1 and _py_node_count(p) == 1, p)
    )

    # 16. counter_rate: ONE key shuffle feeding a streaming lag frame
    # (O(1) window state per key — lag is an offset frame, never a
    # buffered one); sax_symbols: the per-key moment window reuses that
    # same single key exchange, then the (key, segment) aggregate is
    # two-phase so the SECOND exchange carries only ~n_segments rows
    # per key (partial combine does the heavy reduction)
    cr = entrymod.queries()["counter_rate"](spark, sf_dir)
    p = plan_of(cr)
    checks.append(
        ("counter_rate: one key Exchange, offset lag frame, no Python",
         p.count("Exchange") == 1
         and "hashpartitioning(user_id" in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )
    sx = entrymod.queries()["sax_symbols"](spark, sf_dir)
    p = plan_of(sx)
    checks.append(
        ("sax_symbols: two Exchanges (key window + two-phase segment agg), "
         "no single-partition stage, no Python",
         p.count("Exchange") <= 2
         and "SinglePartition" not in p
         and (p.count("HashAggregate") + p.count("SortAggregate")
              + p.count("ObjectHashAggregate")) >= 2
         and _py_node_count(p) == 0, p)
    )

    # 17. ewma: the one inherently-sequential per-key scan — exactly
    # ONE key Exchange feeding ONE grouped-Pandas boundary; must never
    # degrade to a single-partition stage or pick up extra shuffles
    ew = entrymod.queries()["ewma"](spark, sf_dir)
    p = plan_of(ew)
    checks.append(
        ("ewma: one key Exchange, one grouped-Pandas boundary, "
         "no single-partition stage",
         p.count("Exchange") == 1
         and "SinglePartition" not in p
         and _py_node_count(p) == 1, p)
    )

    # 18. cusum: the max(0,..) recursion factored into streaming frames
    # means the whole two-sided chart rides ONE key Exchange with zero
    # Python — the prefix sums, running mins and reflection are all
    # running window frames over the same sort
    cu = entrymod.queries()["cusum"](spark, sf_dir)
    p = plan_of(cu)
    checks.append(
        ("cusum: one key Exchange, streaming frames only, no Python",
         p.count("Exchange") == 1
         and "hashpartitioning(user_id" in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    # 19. anomaly_episodes: rolling z, island frames AND the episode
    # aggregate all share the one key partitioning (the final
    # (key, island) groupBy partial-aggregates in place) — one Exchange
    an = entrymod.queries()["anomaly_episodes"](spark, sf_dir)
    p = plan_of(an)
    checks.append(
        ("anomaly_episodes: one key Exchange end-to-end, no Python",
         p.count("Exchange") == 1
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    # 20. seasonal_decompose: key window shuffle + (key, phase) agg
    # shuffle + broadcast exchange for the <= period-rows-per-key
    # seasonal-index join — and that join must BROADCAST, never
    # sort-merge (the index side is dimension-sized by construction)
    sd = entrymod.queries()["seasonal_decompose"](spark, sf_dir)
    p = plan_of(sd)
    checks.append(
        ("seasonal_decompose: broadcast index join, <=3 Exchanges, no Python",
         p.count("Exchange") <= 3
         and "BroadcastHashJoin" in p
         and "SortMergeJoin" not in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    # 21. crosscorr: the pair stage joins GRID rows on bucket (one row
    # per signal per bucket), never raw events, and never via a
    # nested-loop/cartesian plan; everything JVM
    cc = entrymod.queries()["crosscorr"](spark, sf_dir)
    p = plan_of(cc)
    checks.append(
        ("crosscorr: bucket equi-join on aggregated grid, no cartesian, "
         "no Python",
         "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    # 22. bm25 operator (direct, with a literal query batch — the
    # contract query's 30-row vocab ranking legitimately uses a global
    # window, so audit the operator itself): the query side must
    # BROADCAST (corpus tf never reshuffles for it), the one-row corpus
    # stats ride a 1-row broadcast nested loop, and nothing is Python
    from eristropy_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    qdf = spark.createDataFrame(
        [(0, "the"), (0, "a"), (1, "of")], "query_id long, token string"
    )
    p = plan_of(bm25_topk(docs, qdf, k=5))
    checks.append(
        ("bm25_topk: query side broadcast-joined, no cartesian, no Python",
         "BroadcastHashJoin" in p
         and "CartesianProduct" not in p
         and p.count("BroadcastNestedLoopJoin") <= 1
         and _py_node_count(p) == 0, p)
    )

    # 23. dominant_period: the whole fold scan — position window, grid
    # explode, (key, period, phase) and (key, period) aggregates, the
    # tolerance-band window and the final argmin — rides ONE key
    # Exchange (hashpartitioning(key) satisfies every downstream
    # ClusteredDistribution whose cluster keys are a superset), zero
    # joins, zero Python
    dp = entrymod.queries()["dominant_period"](spark, sf_dir)
    p = plan_of(dp)
    checks.append(
        ("dominant_period: one key Exchange for the whole fold scan, "
         "no joins, no Python",
         p.count("Exchange") == 1
         and "Join" not in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    # 24. rolling_quantile: same shape as rolling_stats — one keyed
    # shuffle, bounded RANGE trailing frame (percentile buffers one
    # window span, never the partition), no Python
    rq = entrymod.queries()["rolling_quantile"](spark, sf_dir)
    p = plan_of(rq)
    checks.append(
        ("rolling_quantile: one key Exchange, bounded RANGE frame, no Python",
         p.count("Exchange") == 1
         and "hashpartitioning(user_id" in p
         and "SinglePartition" not in p
         and "RangeFrame" in p
         and "unboundedfollowing" not in p.lower()
         and _py_node_count(p) == 0, p)
    )

    # 25. theilsen_trend + ar2_forecast: in-row array math over the
    # tokenize layout — exactly one Arrow boundary each, no shuffle
    # beyond tokenize's own
    for qname in ("theilsen_trend", "ar2_forecast"):
        q = entrymod.queries()[qname](spark, sf_dir)
        p = plan_of(q)
        checks.append(
            (f"{qname}: ONE Arrow boundary, only tokenize's Exchange",
             p.count("Exchange") == 1 and _py_node_count(p) == 1, p)
        )

    # 25b. apen: same zero-extra-shuffle projection shape as the
    # entropy path; hurst: per-user collect_list agg (one Exchange)
    # into one Arrow boundary
    ap = entrymod.queries()["apen"](spark, sf_dir)
    p = plan_of(ap)
    checks.append(
        ("apen: ONE Arrow boundary, only tokenize's Exchange",
         p.count("Exchange") == 1 and _py_node_count(p) == 1, p)
    )
    hu = entrymod.queries()["hurst"](spark, sf_dir)
    p = plan_of(hu)
    checks.append(
        ("hurst: ONE Arrow boundary, one key Exchange, no joins",
         p.count("Exchange") == 1
         and "Join" not in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 1, p)
    )

    # 26. holt: the two-state sequential scan — same shape as ewma:
    # one key Exchange into one grouped-Pandas stage, never a global
    # sort / single partition
    hq = entrymod.queries()["holt"](spark, sf_dir)
    p = plan_of(hq)
    checks.append(
        ("holt: one key Exchange, one grouped-Pandas boundary, "
         "no single-partition stage",
         p.count("Exchange") == 1
         and "hashpartitioning(user_id" in p
         and "SinglePartition" not in p
         and "FlatMapGroupsInPandas" in p
         and _py_node_count(p) == 1, p)
    )

    # 26b. croston: pre-aggregated (key,bucket) counts (map-side
    # combine shrinks the shuffle to demand buckets) then the key
    # Exchange into the sequential scan — exactly two Exchanges, one
    # grouped-Pandas stage, never a single partition
    cq = entrymod.queries()["croston"](spark, sf_dir)
    p = plan_of(cq)
    checks.append(
        ("croston: count Exchange + key Exchange, one grouped-Pandas "
         "boundary, no single-partition stage",
         p.count("Exchange") == 2
         and "SinglePartition" not in p
         and "FlatMapGroupsInPandas" in p
         and _py_node_count(p) == 1
         and "partial_count" in p.lower(), p)
    )

    # 27. pmi_collocations: token-keyed equi-joins (vocab-sized sides
    # may broadcast at test scale — but never a cartesian/nested-loop),
    # one-row totals broadcast, top-k as TakeOrdered (bounded heap,
    # no global Sort), zero Python
    pm = entrymod.queries()["pmi_collocations"](spark, sf_dir)
    p = plan_of(pm)
    checks.append(
        ("pmi_collocations: equi-joins only, TakeOrdered top-k, no Python",
         "CartesianProduct" not in p
         # two 1-row broadcasts: N_u x N_bi compose, then attach
         and p.count("BroadcastNestedLoopJoin") <= 2
         and "TakeOrderedAndProject" in p
         and _py_node_count(p) == 0, p)
    )

    # 28. corpus_divergence: two count aggregates + one token-keyed
    # full-outer join + 1-row totals broadcast; no cartesian beyond
    # that single-row cross join, zero Python
    cd = entrymod.queries()["corpus_divergence"](spark, sf_dir)
    p = plan_of(cd)
    checks.append(
        ("corpus_divergence: one tagged union-count pass (cached, read "
         "by totals + rows), 1-row totals broadcast, no Python",
         "CartesianProduct" not in p
         and p.count("BroadcastNestedLoopJoin") <= 1
         and "Union" in p
         and "InMemoryTableScan" in p
         and _py_node_count(p) == 0, p)
    )

    # 29. mann_kendall / pettitt: the array-layout kernel class — ONE
    # mapInArrow boundary, only tokenize's own Exchange, no joins
    for qname in ("mann_kendall", "pettitt"):
        q = entrymod.queries()[qname](spark, sf_dir)
        p = plan_of(q)
        checks.append(
            (f"{qname}: ONE Arrow boundary, only tokenize's Exchange",
             p.count("Exchange") == 1
             and "Join" not in p
             and _py_node_count(p) == 1, p)
        )

    # 30. renyi_entropy: tokenize + two two-phase hash aggregates +
    # the pruned empties-union scan — no joins, no windows, no Python
    rq = entrymod.queries()["renyi_entropy"](spark, sf_dir)
    p = plan_of(rq)
    checks.append(
        ("renyi_entropy: <=3 Exchanges, no Join/Window, zero Python",
         p.count("Exchange") <= 3
         and "Join" not in p
         and "Window" not in p
         and _py_node_count(p) == 0, p)
    )

    # 31. m4_downsample: ONE two-phase hash aggregate — a single
    # Exchange, no window functions, no Python (the whole point of the
    # min_by/max_by formulation)
    mq = entrymod.queries()["m4_downsample"](spark, sf_dir)
    p = plan_of(mq)
    checks.append(
        ("m4_downsample: ONE Exchange, no Window, zero Python",
         p.count("Exchange") == 1
         and "Window" not in p
         and _py_node_count(p) == 0, p)
    )

    # 32. max_drawdown: one per-key Exchange feeds the running-max
    # window, the full-key window, AND the final aggregate (same
    # partitioning reused) — never a single-partition stage, no Python
    dq = entrymod.queries()["max_drawdown"](spark, sf_dir)
    p = plan_of(dq)
    checks.append(
        ("max_drawdown: one key Exchange reused by windows+agg, "
         "no single-partition stage, zero Python",
         p.count("Exchange") == 1
         and "hashpartitioning(user_id" in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    # 33. zipf_fit: top-k as TakeOrdered (bounded heap, no global
    # Sort), the fit a tiny final aggregate — no cartesian, no Python
    zq = entrymod.queries()["zipf_fit"](spark, sf_dir)
    p = plan_of(zq)
    checks.append(
        ("zipf_fit: TakeOrdered top-k, no cartesian, zero Python",
         "TakeOrderedAndProject" in p
         and "CartesianProduct" not in p
         and _py_node_count(p) == 0, p)
    )

    # 34. ks_drift / psi_drift / hill_tail: ONE keyed Exchange end to
    # end — every window and (sub-key) aggregate reuses the same key
    # partitioning; no joins, no single-partition stage, no Python
    for qname in ("ks_drift", "psi_drift", "hill_tail"):
        q = entrymod.queries()[qname](spark, sf_dir)
        p = plan_of(q)
        checks.append(
            (f"{qname}: ONE keyed Exchange, no Join, no single-partition "
             "stage, zero Python",
             p.count("Exchange") == 1
             and "Join" not in p
             and "SinglePartition" not in p
             and _py_node_count(p) == 0, p)
        )

    # 35. benford: two two-phase hash aggregates ((key,digit) census +
    # key window/reduce) — two Exchanges, no joins, no Python
    bq = entrymod.queries()["benford"](spark, sf_dir)
    p = plan_of(bq)
    checks.append(
        ("benford: <=2 Exchanges, no Join, zero Python",
         p.count("Exchange") <= 2
         and "Join" not in p
         and _py_node_count(p) == 0, p)
    )

    # 36. ljung_box: the array-layout kernel class — ONE mapInArrow
    # boundary, only tokenize's own Exchange, no joins
    lq = entrymod.queries()["ljung_box"](spark, sf_dir)
    p = plan_of(lq)
    checks.append(
        ("ljung_box: ONE Arrow boundary, only tokenize's Exchange",
         p.count("Exchange") == 1
         and "Join" not in p
         and _py_node_count(p) == 1, p)
    )

    # 37a. higuchi_fd / dfa / lz_complexity / lttb / lz_entropy_rate:
    # array-kernel class — ONE Arrow boundary, only tokenize's
    # Exchange, no joins
    for qname in (
        "higuchi_fd", "dfa", "lz_complexity", "lttb", "lz_entropy_rate",
        "bartels_rank"
    ):
        hq = entrymod.queries()[qname](spark, sf_dir)
        p = plan_of(hq)
        checks.append(
            (f"{qname}: ONE Arrow boundary, only tokenize's Exchange",
             p.count("Exchange") == 1
             and "Join" not in p
             and _py_node_count(p) == 1, p)
        )

    # 37b. markov_rate: pure-codegen chained aggregate — in-row bigram
    # zip, three two-phase hash aggregates, no Join/Window/Python
    mrq = entrymod.queries()["markov_rate"](spark, sf_dir)
    p = plan_of(mrq)
    checks.append(
        ("markov_rate: <=4 Exchanges, no Join/Window, zero Python",
         p.count("Exchange") <= 4
         and "Join" not in p
         and "Window" not in p
         and _py_node_count(p) == 0, p)
    )

    # 37. matrix_profile: same array-kernel class — the O(P^2) pair work
    # lives INSIDE the Arrow kernel; the plan must show no join/cartesian
    mq = entrymod.queries()["matrix_profile"](spark, sf_dir)
    p = plan_of(mq)
    checks.append(
        ("matrix_profile: ONE Arrow boundary, only tokenize's Exchange, "
         "no Join/Cartesian",
         p.count("Exchange") == 1
         and "Join" not in p
         and "Cartesian" not in p
         and _py_node_count(p) == 1, p)
    )

    # 38. runs_test / turning_points / variance_ratio: pure-codegen
    # in-row randomness tests — only tokenize's Exchange, no Join,
    # no Window of their own, zero Python
    for qname in ("runs_test", "turning_points", "variance_ratio"):
        q = entrymod.queries()[qname](spark, sf_dir)
        p = plan_of(q)
        checks.append(
            (f"{qname}: only tokenize's Exchange, no Join/Window, "
             "zero Python",
             p.count("Exchange") == 1
             and "Join" not in p
             and "Window" not in p
             and _py_node_count(p) == 0, p)
        )

    # 38b. irreversibility / hjorth / katz_fd: the same pure-codegen
    # in-row class as the randomness tests — only tokenize's Exchange,
    # no Join, no Window of their own, zero Python
    for qname in ("irreversibility", "hjorth", "katz_fd"):
        q = entrymod.queries()[qname](spark, sf_dir)
        p = plan_of(q)
        checks.append(
            (f"{qname}: only tokenize's Exchange, no Join/Window, "
             "zero Python",
             p.count("Exchange") == 1
             and "Join" not in p
             and "Window" not in p
             and _py_node_count(p) == 0, p)
        )

    # 38c. multiscale_entropy: ONE Arrow boundary over the array
    # layout, only tokenize's Exchange, no Join — the Costa curve is
    # per-signal work, never a pair shuffle
    mseq = entrymod.queries()["multiscale_entropy"](spark, sf_dir)
    p = plan_of(mseq)
    checks.append(
        ("multiscale_entropy: ONE Arrow boundary, only tokenize's "
         "Exchange, no Join",
         p.count("Exchange") == 1
         and "Join" not in p
         and _py_node_count(p) == 1, p)
    )

    # 38d. ts_features: the pure-codegen in-row battery — only
    # tokenize's Exchange, no Join, no Window of its own, zero Python
    tfq = entrymod.queries()["ts_features"](spark, sf_dir)
    p = plan_of(tfq)
    checks.append(
        ("ts_features: only tokenize's Exchange, no Join/Window, "
         "zero Python",
         p.count("Exchange") == 1
         and "Join" not in p
         and "Window" not in p
         and _py_node_count(p) == 0, p)
    )

    # 38e. page_hinkley: ONE key Exchange — the final per-key hash
    # aggregate reuses the window's hash partitioning (same keys), so
    # the whole detector is one shuffle + one sort; no Join, zero
    # Python (the running statistic never collects or recurses)
    phq = entrymod.queries()["page_hinkley"](spark, sf_dir)
    p = plan_of(phq)
    checks.append(
        ("page_hinkley: ONE Exchange (agg reuses window partitioning), "
         "no Join, zero Python",
         p.count("Exchange") == 1
         and "Join" not in p
         and _py_node_count(p) == 0, p)
    )

    # 38f. mutual_info / transfer_entropy: the pair-alignment class —
    # bucket equi-joins only (quadratic in SOURCES, never a cartesian
    # over rows), per-source stats ride a broadcast, zero Python
    for qname in ("mutual_info", "transfer_entropy"):
        q = entrymod.queries()[qname](spark, sf_dir)
        p = plan_of(q)
        checks.append(
            (f"{qname}: equi-joins only (no CartesianProduct/"
             "BroadcastNestedLoop), zero Python",
             "CartesianProduct" not in p
             and "BroadcastNestedLoopJoin" not in p
             and _py_node_count(p) == 0, p)
        )

    # 38g. holt_winters: the three-state sequential scan — same shape
    # as ewma/holt: one key Exchange into one grouped-Pandas stage,
    # never a global sort / single partition
    hwq = entrymod.queries()["holt_winters"](spark, sf_dir)
    p = plan_of(hwq)
    checks.append(
        ("holt_winters: one key Exchange, one grouped-Pandas boundary, "
         "no single-partition stage",
         p.count("Exchange") == 1
         and "hashpartitioning(user_id" in p
         and "SinglePartition" not in p
         and "FlatMapGroupsInPandas" in p
         and _py_node_count(p) == 1, p)
    )

    # 38h. dcca: pair-alignment + keyed windows — bucket equi-join
    # (quadratic in sources only), every window keyed (never a single
    # partition), zero Python
    dq = entrymod.queries()["dcca"](spark, sf_dir)
    p = plan_of(dq)
    checks.append(
        ("dcca: equi-joins only, keyed windows (no SinglePartition), "
         "zero Python",
         "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    # 38i. count_dispersion: one count aggregate + ONE keyed window +
    # final aggregate — no Join, no dense explode (zero-run algebra),
    # zero Python
    cdq = entrymod.queries()["count_dispersion"](spark, sf_dir)
    p = plan_of(cdq)
    checks.append(
        ("count_dispersion: no Join, no Explode/Generate, keyed window "
         "only, zero Python",
         "Join" not in p
         and "Generate" not in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    # 38j. tail_dependence: rank window keyed per source, thresholds
    # ride a broadcast, pair alignment by bucket equi-join — never a
    # cartesian over rows, zero Python
    tdq = entrymod.queries()["tail_dependence"](spark, sf_dir)
    p = plan_of(tdq)
    checks.append(
        ("tail_dependence: equi-joins + broadcast thresholds, keyed "
         "windows, zero Python",
         "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p
         and "SinglePartition" not in p
         and "BroadcastHashJoin" in p
         and _py_node_count(p) == 0, p)
    )

    # 38k. poincare / ordinal_census / rqa: the nonlinear-dynamics
    # census — pure in-row codegen over the array layout, only
    # tokenize's Exchange, no Join, no Window of their own, zero
    # Python (rqa's O(n²) lives inside the row, never as a pair join)
    for qname in ("poincare", "ordinal_census", "rqa", "arch_lm",
                  "record_stats"):
        q = entrymod.queries()[qname](spark, sf_dir)
        p = plan_of(q)
        checks.append(
            (f"{qname}: only tokenize's Exchange, no Join/Window, "
             "zero Python",
             p.count("Exchange") == 1
             and "Join" not in p
             and "Window" not in p
             and _py_node_count(p) == 0, p)
        )

    # 39. kn_bigram: the corpus-join class — equi-joins only (never a
    # cartesian; the one-row type total rides a broadcast nested-loop
    # like pmi's totals), zero Python
    kq = entrymod.queries()["kn_bigram"](spark, sf_dir)
    p = plan_of(kq)
    checks.append(
        ("kn_bigram: equi-joins only, 1-row total broadcast, zero Python",
         "CartesianProduct" not in p
         and p.count("BroadcastNestedLoopJoin") <= 1
         and _py_node_count(p) == 0, p)
    )

    # 40. BPE: (a) one training round's pair count = a two-phase hash
    # aggregate over the word table, no Join, zero Python; (b) encode
    # with an unrolled merge schedule = pure in-row codegen, ZERO
    # Exchange, zero Python
    from eristropy_spark.operators.bpe import encode_bpe, words_with_symbols

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = words_with_symbols(docs)
    n = F.size("syms")
    pairs = (
        words.filter(n >= 2)
        .select(
            "cnt",
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, n - 1),
                    F.slice("syms", 2, n - 1),
                    lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                )
            ).alias("p"),
        )
        .groupBy("p.a", "p.b")
        .agg(F.sum("cnt").alias("c"))
    )
    p = plan_of(pairs)
    checks.append(
        ("bpe train round: two-phase pair aggregate, no Join, zero Python",
         "partial_sum" in p.lower().replace("partial sum", "partial_sum")
         or "HashAggregate" in p,
         p)
    )
    checks.append(
        ("bpe train round: no Join, zero Python",
         "Join" not in p and _py_node_count(p) == 0, p)
    )
    eq = encode_bpe(
        docs, [("e", "r"), ("t", "h"), ("th", "e</w>")], dedupe_words=False
    )
    p = plan_of(eq)
    checks.append(
        ("bpe encode (in-row): pure codegen — ZERO Exchange, no Join, "
         "zero Python",
         p.count("Exchange") == 0
         and "Join" not in p
         and _py_node_count(p) == 0, p)
    )
    eq2 = encode_bpe(docs, [("e", "r"), ("t", "h"), ("th", "e</w>")])
    p = plan_of(eq2)
    checks.append(
        ("bpe encode (word-cache default): equi-joins only, zero Python",
         "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p
         and _py_node_count(p) == 0, p)
    )

    # 41. cross_sampen: per-key label self-join (equi-join, NEVER a
    # cartesian over signals) feeding ONE Arrow kernel boundary
    cq = entrymod.queries()["cross_sampen"](spark, sf_dir)
    p = plan_of(cq)
    checks.append(
        ("cross_sampen: equi self-join (no cartesian), ONE Arrow "
         "boundary",
         "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p
         and _py_node_count(p) == 1, p)
    )

    # 42. kalman_level: the ewma/holt sequential-scan class — one key
    # Exchange into one grouped-Pandas stage, no single-partition stage
    kq = entrymod.queries()["kalman_level"](spark, sf_dir)
    p = plan_of(kq)
    checks.append(
        ("kalman_level: one key Exchange, one grouped-Pandas boundary, "
         "no single-partition stage",
         p.count("Exchange") == 1
         and "hashpartitioning(user_id" in p
         and "SinglePartition" not in p
         and "FlatMapGroupsInPandas" in p
         and _py_node_count(p) == 1, p)
    )

    # 43. mannwhitney: the ks_drift shuffle class — keyed window pass +
    # (key, value) census + per-key reduce, no Join, zero Python
    mq = entrymod.queries()["mannwhitney"](spark, sf_dir)
    p = plan_of(mq)
    checks.append(
        ("mannwhitney: <=3 keyed Exchanges, no Join, no single-partition "
         "window, zero Python",
         p.count("Exchange") <= 3
         and "Join" not in p
         and _py_node_count(p) == 0, p)
    )

    # 43b. ansari_drift / kuiper_drift: the same census class — keyed
    # window pass + (key, value) census (ansari adds the in-row
    # triangular score sums, kuiper the signed sup reduce) + per-key
    # reduce, no Join, zero Python
    for qn in ("ansari_drift", "kuiper_drift", "mood_scale_drift",
               "lepage_drift", "cucconi_drift"):
        aq = entrymod.queries()[qn](spark, sf_dir)
        p = plan_of(aq)
        checks.append(
            (f"{qn}: <=3 keyed Exchanges, no Join, no "
             "single-partition window, zero Python",
             p.count("Exchange") <= 3
             and "Join" not in p
             and _py_node_count(p) == 0, p)
        )

    # 43b2. zero_inflation: the whole statistic from a 4-scalar
    # reduce over ONE (source, bucket) census — <=2 keyed Exchanges,
    # no window, no Join, zero Python
    for qn in ("zero_inflation", "overdispersion"):
        ziq = entrymod.queries()[qn](spark, sf_dir)
        p = plan_of(ziq)
        checks.append(
            (f"{qn}: <=2 keyed Exchanges, no Join/window, zero Python",
             p.count("Exchange") <= 2
             and "Join" not in p
             and "Window" not in p
             and _py_node_count(p) == 0, p)
        )

    # 43c. allan_variance / hadamard_variance: in-row tau explode +
    # ONE (key, tau, bucket) map-side-combined aggregate + lag window
    # + per-(key, tau) reduce riding the same partitioning — no Join,
    # zero Python
    for qn in ("allan_variance", "hadamard_variance"):
        av = entrymod.queries()[qn](spark, sf_dir)
        p = plan_of(av)
        checks.append(
            (f"{qn}: <=2 keyed Exchanges, in-row tau explode, "
             "no Join, zero Python",
             p.count("Exchange") <= 2
             and "Join" not in p
             and "Generate" in p
             and _py_node_count(p) == 0, p)
        )

    # 43d. fligner_policello: the census class plus ONE broadcast
    # mean join-back (the brown_forsythe med-join idiom) — no SMJ, no
    # single-partition stage, zero Python
    fpq = entrymod.queries()["fligner_policello"](spark, sf_dir)
    p = plan_of(fpq)
    checks.append(
        ("fligner_policello: broadcast-only mean join-back, no SMJ, "
         "no single-partition stage, zero Python",
         "SortMergeJoin" not in p
         and "CartesianProduct" not in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    # 44. funnel: chained step minima over ONE key partitioning (the
    # final k-row reduce may be single-partition — it is k rows), no
    # joins, zero Python
    fq = entrymod.queries()["funnel"](spark, sf_dir)
    p = plan_of(fq)
    checks.append(
        ("funnel: one keyed Exchange for the step windows, no Join, "
         "zero Python",
         "hashpartitioning(user_id" in p
         and "Join" not in p
         and _py_node_count(p) == 0, p)
    )

    # 45. retention: keyed window pass + distinct + (cohort, offset)
    # aggregate riding a cohort window — no Join, zero Python
    rq = entrymod.queries()["retention"](spark, sf_dir)
    p = plan_of(rq)
    checks.append(
        ("retention: window + two-phase distinct aggregates, no Join, "
         "zero Python",
         "Join" not in p and _py_node_count(p) == 0, p)
    )

    # 46. burstiness: one keyed window pass + one aggregate riding the
    # same partitioning — ONE Exchange, no Join, zero Python
    bq = entrymod.queries()["burstiness"](spark, sf_dir)
    p = plan_of(bq)
    checks.append(
        ("burstiness: ONE keyed Exchange, no Join, zero Python",
         p.count("Exchange") == 1
         and "Join" not in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    # 47. stratified_sample: one keyed Exchange + rank window, filter
    # inside the scan — no global sort, no Join, zero Python
    sq = entrymod.queries()["stratified_sample"](spark, sf_dir)
    p = plan_of(sq)
    checks.append(
        ("stratified_sample: one keyed Exchange + rank window, no "
         "global sort, zero Python",
         p.count("Exchange") == 1
         and "Join" not in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    # 48. granger: grid aggregate + bucket equi-joins (quadratic in
    # SOURCES only, never a cartesian over rows), moment reduce —
    # zero Python
    gq = entrymod.queries()["granger"](spark, sf_dir)
    p = plan_of(gq)
    checks.append(
        ("granger: bucket equi-joins only (no cartesian/nested-loop), "
         "zero Python",
         "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p
         and _py_node_count(p) == 0, p)
    )

    # 49. spearman: grid + bucket equi-join + pair-keyed rank windows —
    # no cartesian, zero Python
    sq2 = entrymod.queries()["spearman"](spark, sf_dir)
    p = plan_of(sq2)
    checks.append(
        ("spearman: bucket equi-join + pair rank windows, no cartesian, "
         "zero Python",
         "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p
         and _py_node_count(p) == 0, p)
    )

    # 49b. ess: acf's Arrow boundary + a key-window/aggregate over the
    # <= max_lag lag rows + one key-join back to signal lengths —
    # no cartesian, ONE Python boundary (acf's)
    eq2 = entrymod.queries()["ess"](spark, sf_dir)
    p = plan_of(eq2)
    checks.append(
        ("ess: acf Arrow boundary + keyed lag reduce, no cartesian",
         "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p
         and _py_node_count(p) == 1, p)
    )

    # 50. kaplan_meier: per-key aggregate + 1-row broadcast + bounded
    # lifetime-axis windows; the only nested-loop join is the 1-row
    # corpus-end broadcast — zero Python
    kmq = entrymod.queries()["kaplan_meier"](spark, sf_dir)
    p = plan_of(kmq)
    checks.append(
        ("kaplan_meier: per-key agg + 1-row end broadcast + bounded "
         "axis windows, zero Python",
         "CartesianProduct" not in p
         and p.count("BroadcastNestedLoopJoin") <= 1
         and _py_node_count(p) == 0, p)
    )


    # 51. wasserstein / cvm drift: the ks_drift census family — keyed
    # rank window + (key, value) census aggregate + cdf windows, <= 3
    # keyed Exchanges, never a join or single-partition window, zero
    # Python
    for qn in ("wasserstein_drift", "cvm_drift", "categorical_drift"):
        wq = entrymod.queries()[qn](spark, sf_dir)
        p = plan_of(wq)
        checks.append(
            (f"{qn}: <=3 keyed Exchanges, no Join, no single-partition "
             "window, zero Python",
             p.count("Exchange") <= 3
             and "Join" not in p
             and "SinglePartition" not in p
             and _py_node_count(p) == 0, p)
        )

    # 52. robust_scale / cvar_tail: two unbounded windows + a groupBy
    # all on ONE key Exchange, zero Python
    for qn in ("robust_scale", "cvar_tail", "normality", "gpd_tail",
               "extremal_index"):
        rq = entrymod.queries()[qn](spark, sf_dir)
        p = plan_of(rq)
        checks.append(
            (f"{qn}: ONE key Exchange (windows + same-key reduce), "
             "no Join, zero Python",
             p.count("Exchange") == 1
             and "Join" not in p
             and "SinglePartition" not in p
             and _py_node_count(p) == 0, p)
        )

    # gumbel: TWO Exchanges by design — the (key, block) max aggregate
    # (full data, map-side combined) then the key-window over block
    # MAXIMA only (m rows per key, m = time-range/block_sec) — no
    # Join, zero Python
    gq = entrymod.queries()["gumbel"](spark, sf_dir)
    p = plan_of(gq)
    checks.append(
        ("gumbel: block aggregate + key window (2 Exchanges, second "
         "carries maxima only), no Join, zero Python",
         p.count("Exchange") == 2
         and "Join" not in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    # 53. lexical_richness / vocab_coverage: explode + two CHAINED
    # two-phase aggregates (word-prefixed key, then id/group key) —
    # no join, no window, zero Python
    for qn in ("lexical_richness", "vocab_coverage"):
        lq = entrymod.queries()[qn](spark, sf_dir)
        p = plan_of(lq)
        checks.append(
            (f"{qn}: two chained hash aggregates, no Join/Window, "
             "zero Python",
             p.count("Exchange") <= 2
             and "Join" not in p
             and "Window" not in p
             and "SinglePartition" not in p
             and _py_node_count(p) == 0, p)
        )

    # 54. token_novelty: distinct pairs + word-keyed min window +
    # doc reduce — <= 3 keyed Exchanges, no Join, zero Python
    tq = entrymod.queries()["token_novelty"](spark, sf_dir)
    p = plan_of(tq)
    checks.append(
        ("token_novelty: <=3 keyed Exchanges, no Join, zero Python",
         p.count("Exchange") <= 3
         and "Join" not in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    # 55. heaps_law: per-doc aggregates + ONE keyed equi join + group
    # cumulative windows — never cartesian, zero Python
    hq = entrymod.queries()["heaps_law"](spark, sf_dir)
    p = plan_of(hq)
    checks.append(
        ("heaps_law: keyed equi-join only, no cartesian, zero Python",
         "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    # 56. stl_strength: the decompose plan (broadcast index join) plus
    # ONE same-key aggregate — no sort-merge join, no Python
    sq3 = entrymod.queries()["stl_strength"](spark, sf_dir)
    p = plan_of(sq3)
    checks.append(
        ("stl_strength: decompose plan + same-key reduce, broadcast "
         "index join, no Python",
         "BroadcastHashJoin" in p
         and "SortMergeJoin" not in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    # 57. fuzzyen / pacf / wavelet_entropy: array-kernel projections —
    # ONE Arrow boundary, only tokenize's Exchange
    for qn in ("fuzzyen", "pacf", "wavelet_entropy", "bubble_entropy",
               "seasonal_mk", "spectral_entropy", "hampel"):
        fq = entrymod.queries()[qn](spark, sf_dir)
        p = plan_of(fq)
        checks.append(
            (f"{qn}: ONE Arrow boundary, only tokenize's Exchange",
             p.count("Exchange") == 1 and _py_node_count(p) == 1, p)
        )

    # 58. ccnet_buckets: broadcast vocab + broadcast tercile thresholds
    # (never a source-partitioned window over full rows), no cartesian
    # beyond the 1-row totals broadcast, zero Python
    cq = entrymod.queries()["ccnet_buckets"](spark, sf_dir)
    p = plan_of(cq)
    checks.append(
        ("ccnet_buckets: broadcast thresholds (no source-window over "
         "rows), no cartesian, zero Python",
         "BroadcastHashJoin" in p
         and "CartesianProduct" not in p
         and "Window" not in p
         and _py_node_count(p) == 0, p)
    )

    # 59. gini_balance: in-row token count + ONE source-keyed Exchange
    # (rank window + same-key reduce), zero Python
    gq2 = entrymod.queries()["gini_balance"](spark, sf_dir)
    p = plan_of(gq2)
    checks.append(
        ("gini_balance: ONE keyed Exchange, in-row counting, zero Python",
         p.count("Exchange") == 1
         and "Join" not in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )


    # 59b. theil: in-row token count + ONE source-keyed hash aggregate
    # — no window at all (unlike gini's rank form), no Join, zero
    # Python
    gq2b = entrymod.queries()["theil"](spark, sf_dir)
    p = plan_of(gq2b)
    checks.append(
        ("theil: ONE keyed Exchange, no window/Join, zero Python",
         p.count("Exchange") == 1
         and "Join" not in p
         and "Window" not in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    # 60. quantile_drift: half-split window + per-(key, half) exact
    # percentiles + in-row explode — ONE keyed Exchange, no Join, no
    # Python
    qd = entrymod.queries()["quantile_drift"](spark, sf_dir)
    p = plan_of(qd)
    checks.append(
        ("quantile_drift: ONE keyed Exchange, in-row explode, no Join, "
         "zero Python",
         p.count("Exchange") == 1
         and "Join" not in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    # 61. expanding_zscore: both running sums are streaming
    # (unbounded-preceding) frames over ONE keyed Exchange — O(1)
    # window state per row, zero Python
    ez = entrymod.queries()["expanding_zscore"](spark, sf_dir)
    p = plan_of(ez)
    checks.append(
        ("expanding_zscore: ONE keyed Exchange, streaming frames, "
         "zero Python",
         p.count("Exchange") == 1
         and "hashpartitioning(user_id" in p
         and "SinglePartition" not in p
         and "unboundedfollowing" not in p.lower()
         and _py_node_count(p) == 0, p)
    )

    # 62. dtw_distance: two map-side-combined collect_list aggregates
    # feeding a KEYED pair self-join (broadcast at this sf; AQE may
    # flip to sort-merge at scale — still keyed, never cartesian),
    # then exactly ONE MapInArrow boundary for the dp row sweep.
    # Arrays are truncated to max_len upstream of the join.
    # 63. forecast_eval: lag/prefix windows + same-key reduce on ONE
    # keyed Exchange, prefix frames only (streaming O(1) state),
    # exact-DECIMAL sums, zero Python
    fe = entrymod.queries()["forecast_eval"](spark, sf_dir)
    p = plan_of(fe)
    checks.append(
        ("forecast_eval: ONE keyed Exchange, prefix frames only, "
         "no Join, zero Python",
         p.count("Exchange") == 1
         and "Join" not in p
         and "SinglePartition" not in p
         and "unboundedfollowing" not in p.lower()
         and _py_node_count(p) == 0, p)
    )

    # 64. binseg: prefix frames + full-partition reduces + three
    # rank-by-gain in-partition sorts, all on ONE keyed Exchange —
    # depth is static, so the plan never grows with data
    bs = entrymod.queries()["binseg"](spark, sf_dir)
    p = plan_of(bs)
    checks.append(
        ("binseg: ONE keyed Exchange, no Join, zero Python",
         p.count("Exchange") == 1
         and "Join" not in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    for qn in ("dtw_distance", "seq_align"):
        dtwq = entrymod.queries()[qn](spark, sf_dir)
        p = plan_of(dtwq)
        checks.append(
            (f"{qn}: keyed pair join (no cartesian), <=3 Exchanges, "
             "ONE MapInArrow, no single-partition stage",
             p.count("Exchange") <= 3
             and "CartesianProduct" not in p
             and "Join" in p
             and "SinglePartition" not in p
             and p.count("MapInArrow") == 1
             and _py_node_count(p) == 1, p)
        )

    # 65. profile_columns (approx/scale path): ONE global aggregate
    # pass — no Join in the in-row stack() unpivot, and no Expand
    # (the multi-distinct rewrite that multiplies scan rows x n_cols;
    # the HLL++ path must plan as a plain two-phase aggregate)
    from eristropy_spark.operators.profile import profile_columns

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pr = profile_columns(docs, exact=False)
    p = plan_of(pr)
    checks.append(
        ("profile_columns (approx path): no Join, no Expand, "
         "zero Python",
         "Join" not in p
         and "Expand" not in p
         and _py_node_count(p) == 0, p)
    )

    # 66. kpss / durbin_watson / chi2_drift: pure in-row or census
    # reduce — ONE keyed Exchange (tokenize's or the census's), no
    # Join, no single-partition stage, zero Python
    for qn in ("kpss", "durbin_watson", "chi2_drift"):
        q66 = entrymod.queries()[qn](spark, sf_dir)
        p = plan_of(q66)
        checks.append(
            (f"{qn}: ONE keyed Exchange, no Join, zero Python",
             p.count("Exchange") == 1
             and "Join" not in p
             and "SinglePartition" not in p
             and _py_node_count(p) == 0, p)
        )

    # 67. kruskal_wallis / brown_forsythe: census aggregates +
    # broadcast-only joins (the per-group/global reduces are k-row
    # frames) — no sort-merge join, no cartesian, zero Python.
    # SinglePartition stages exist by design but only on bounded
    # frames: the distinct-VALUE census (cardinality = value domain)
    # and the k-row global reduce.
    # friedman_page shares the shape: cell aggregate + within-block
    # windows (keyed by block) + k-row reduces broadcast back.
    # jonckheere_terpstra / mood_median extend it: the dense k×V grid
    # / pooled-median frames are census-bounded too, and their cross
    # joins broadcast k-row (or 1-row) sides — BNLJ with a broadcast
    # side is the intended physical form, never a CartesianProduct.
    for qn in ("kruskal_wallis", "brown_forsythe", "friedman_page",
               "cochran_q", "jonckheere", "mood_median",
               "cochran_armitage", "conover"):
        q67 = entrymod.queries()[qn](spark, sf_dir)
        p = plan_of(q67)
        checks.append(
            (f"{qn}: broadcast-only joins over census frames, "
             "no SMJ/cartesian, zero Python",
             "SortMergeJoin" not in p
             and "CartesianProduct" not in p
             and _py_node_count(p) == 0, p)
        )

    # 68. coint_eg: ONE raw-input materialization (lazy localCheckpoint
    # of the grid — the plan must contain NO parquet rescan), bucket
    # equi-joins + broadcast coef joins only, keyed lag window, zero
    # Python
    q68 = entrymod.queries()["coint_eg"](spark, sf_dir)
    p = plan_of(q68)
    checks.append(
        ("coint_eg: checkpointed grid (no raw rescan), equi/broadcast "
         "joins only, keyed windows, zero Python",
         "Scan parquet" not in p
         and "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    # 69. ttest_drift: moment form — ONE keyed window pass + ONE hash
    # aggregate sharing the Exchange, no census, no Join, zero Python
    q69 = entrymod.queries()["ttest_drift"](spark, sf_dir)
    p = plan_of(q69)
    checks.append(
        ("ttest_drift: ONE keyed Exchange, no Join, zero Python",
         p.count("Exchange") == 1
         and "Join" not in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    # 70. energy_drift: census + cumulative/lead windows riding the
    # same keyed Exchange — no Join, no single-partition stage
    q70 = entrymod.queries()["energy_drift"](spark, sf_dir)
    p = plan_of(q70)
    checks.append(
        ("energy_drift: ONE keyed Exchange, no Join, zero Python",
         p.count("Exchange") == 1
         and "Join" not in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    # 70a. ad_drift: the ks/mwu/cvm census shape — split window +
    # census aggregate + cumulative windows + reduce all riding ONE
    # keyed Exchange, no Join, zero Python
    q70a = entrymod.queries()["ad_drift"](spark, sf_dir)
    p = plan_of(q70a)
    checks.append(
        ("ad_drift: ONE keyed Exchange, no Join, zero Python",
         p.count("Exchange") == 1
         and "Join" not in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    # 70b. hodges_lehmann: census×census difference join rides the key
    # partitioning — keyed equi-joins only (domain² bound documented),
    # no cartesian/nested-loop, no single-partition stage, zero Python
    q70b = entrymod.queries()["hodges_lehmann"](spark, sf_dir)
    p = plan_of(q70b)
    checks.append(
        ("hodges_lehmann: keyed equi-joins only (no cartesian/BNLJ), "
         "no single-partition stage, zero Python",
         "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p
         and "SinglePartition" not in p
         and _py_node_count(p) == 0, p)
    )

    # 67b. quade: the friedman_page cell shape plus the block-range
    # midrank join — every join keys by block (equi; SMJ acceptable:
    # both sides are cell/block tables, bounded by the time-bucket
    # domain), BNLJ only for k-row/1-row broadcast frames, zero
    # Python.
    q67b = entrymod.queries()["quade"](spark, sf_dir)
    p = plan_of(q67b)
    checks.append(
        ("quade: block-keyed equi-joins over cell frames, no cartesian, "
         "zero Python",
         "CartesianProduct" not in p
         and _py_node_count(p) == 0, p)
    )

    # 71. rsi_macd: the ewma/holt/kalman sequential-scan class — one
    # key Exchange into one grouped-Pandas stage, no single-partition
    q71 = entrymod.queries()["rsi_macd"](spark, sf_dir)
    p = plan_of(q71)
    checks.append(
        ("rsi_macd: one key Exchange, one grouped-Pandas boundary, "
         "no single-partition stage",
         p.count("Exchange") == 1
         and "hashpartitioning(user_id" in p
         and "SinglePartition" not in p
         and "FlatMapGroupsInPandas" in p
         and _py_node_count(p) == 1, p)
    )

    # 72. kendall: grid equi-join + Knight O(n log n) grouped map
    # keyed by the source pair (round 6 — replaced the pair-keyed
    # quadratic self-join): ONE pair-keyed exchange feeding ONE
    # grouped-Pandas boundary, never a cartesian/nested-loop
    q72 = entrymod.queries()["kendall"](spark, sf_dir)
    p = plan_of(q72)
    checks.append(
        ("kendall: pair-keyed Knight grouped map (no cartesian/"
         "nested-loop), one Pandas boundary",
         "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p
         and "FlatMapGroupsInPandas" in p
         and "hashpartitioning(source_a" in p
         and _py_node_count(p) == 1, p)
    )

    # 73. wilcoxon: bucket equi-join + pair-keyed rank windows +
    # keyed reduce — no quadratic step, zero Python
    q73 = entrymod.queries()["wilcoxon"](spark, sf_dir)
    p = plan_of(q73)
    checks.append(
        ("wilcoxon: bucket equi-join + pair rank windows, no cartesian, "
         "zero Python",
         "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p
         and _py_node_count(p) == 0, p)
    )

    # 74-80. k-sample family window linearization (round 6): every
    # aggregate consumer rides the single census lineage as a window,
    # so each plan is join-free and scans its input at most twice
    # (the join-back forms re-executed the census per branch — up to
    # 28 scans for quade)
    for qname in (
        "kruskal_wallis",
        "brown_forsythe",
        "mood_median",
        "conover",
        "friedman_page",
        "cochran_q",
        "quade",
    ):
        qdf = entrymod.queries()[qname](spark, sf_dir)
        p = plan_of(qdf)
        checks.append(
            (f"{qname}: window-linearized census — join-free, "
             "at most 2 scans",
             "Join" not in p and p.count("Scan parquet") <= 2, p)
        )

    return checks
