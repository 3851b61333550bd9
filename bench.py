"""Benchmark harness — headline entropy-rollup throughput + scaling protocol.

Prints ONE JSON line on the last stdout line:

1. **Headline pipeline** (the graft metric): deterministic synthetic
   token table (sources/tokens.synthesize_tokens — scale-free, no
   driver data) → z-norm → SampEn + PermEn per sequence → 3-tier
   retention cascade (raw → 1-min → 1-hour).  Run at TWO parallelism
   levels (local[N/4] and local[N]) on the SAME input; reports
   sequences/sec at both, scaling efficiency, and equality of the
   rolled-up tier fingerprints across levels (BASELINE.md protocol).
2. **Per-query timings** at $SPARK_GRAFT_SF_DIR (default sf0.1) for the
   driver-contract queries.

Each phase runs in its OWN subprocess: restarting a SparkSession with a
different master inside one Python process leaves broken Python-worker
daemons behind ("EOF reached before Python server acknowledged"), which
silently wrecks the second run's throughput.

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default 32),
BENCH_N_DOCS (default 120000).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_DOCS = int(os.environ.get("BENCH_N_DOCS", "120000"))

# The documented exact/small-scale paths are skipped at bench sf: their
# all-pairs cost is the very thing the LSH operators replace.
# ngram_jaccard: the synthetic corpus's tiny vocabulary makes the shingle
# self-join quadratic (~10^8 candidate pairs).  embed_dedup_exact: 5k
# vectors -> 12.5M fold-evaluated 64-dim dot products.  dedup_clusters:
# its contract edge set IS the exact ngram_jaccard pair set (chosen
# because the oracle needs SQL-expressible edges); at scale clustering
# runs over LSH pairs instead (timed via minhash_lsh + the CC rounds are
# covered by tests).  The scale paths (minhash_lsh, embed_dedup_lsh)
# ARE timed.
SKIP_AT_BENCH_SF = {"ngram_jaccard", "embed_dedup_exact", "dedup_clusters"}


def _phase_headline(cores: int) -> None:
    from pyspark.sql import functions as F

    from eristropy_spark.operators.rollup import cascade, entropy_points
    from eristropy_spark.runtime.session import get_spark
    from eristropy_spark.sources.tokens import synthesize_tokens

    spark = get_spark(app_name=f"bench-headline-{cores}", cores=cores)

    # warm up the Python-worker daemons + JVM codegen/JIT so the timed
    # window measures throughput, not one-time startup (fixed ~5-7 s of
    # daemon spawn dominates small jobs and fakes poor scaling)
    warm = synthesize_tokens(spark, 2000, seed=7, partitions=cores)
    entropy_points(warm, m=2, r=0.2, normalize=True).count()

    tokens = synthesize_tokens(spark, N_DOCS, seed=42, partitions=cores * 4).persist()
    n_seq = tokens.count()  # materialize input outside the timed window

    def fingerprint(df):
        cols = [
            F.col("source"),
            F.col("bucket"),
            F.col("n_seq"),
            F.col("n_sampen"),
            F.round("sum_sampen", 9),
            F.round("avg_sampen", 9),
            F.round("avg_permen", 9),
        ]
        row = df.select(
            F.count("*").alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("h")
        ).collect()[0]
        return [int(row["n"]), int(row["h"] or 0)]

    from pyspark import StorageLevel

    t0 = time.time()
    pts = entropy_points(tokens, m=2, r=0.2, normalize=True).persist(
        StorageLevel.MEMORY_ONLY
    )
    pts.count()  # materialize the raw tier once (≈ writing it to storage)
    t_pts = time.time() - t0
    tiers = cascade(pts)
    # one action drives the whole cascade chain (hour tier pulls minute
    # tier pulls cached points) — keeps the timed window at 2 jobs so
    # fixed per-job scheduling cost doesn't dilute high-core runs
    fps = {"1hour": fingerprint(tiers["1hour"])}
    wall = time.time() - t0
    t_cascade = wall - t_pts
    # equality evidence for the remaining tier, untimed (recomputes the
    # tiny minute rollup from cached points)
    fps["1min"] = fingerprint(tiers["1min"])
    print(
        json.dumps(
            {
                "cores": cores,
                "n_seq": n_seq,
                "wall_sec": round(wall, 3),
                "entropy_sec": round(t_pts, 3),
                "cascade_sec": round(t_cascade, 3),
                "seq_per_sec": round(n_seq / wall, 1),
                "tiers": fps,
            }
        )
    )
    spark.stop()


def _phase_queries(cores: int) -> None:
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from eristropy_spark.runtime.session import get_spark

    spark = get_spark(app_name="bench-queries", cores=cores)
    out: dict[str, float] = {}
    quiet: dict[str, bool] = {}
    # best-of-3: neighbor contention on this box swings identical runs
    # up to 10x and waves last minutes (see BASELINE.md methodology);
    # min-of-three gives each query a better chance of one quiet rep.
    # Reps 2-3 also reuse rep 1's generated classes (get_spark sizes the
    # codegen cache to the whole contract), so a query's best is not a
    # like-for-like repeat of its rep-1 time.  Each rep additionally
    # waits (bounded) for a quiet window — a wave spanning the whole
    # phase would otherwise taint all three reps.
    # phase wall budget AFTER the first full rep: every query always
    # gets one timing; extra reps run only while the budget holds (a
    # contention wave makes all 50+ queries 2-5x slower — unbudgeted,
    # 3 full reps have blown past an hour).  Heavy queries (best >= 5 s)
    # skip the third rep once they already own a QUIET best — their
    # extra signal per rep is the smallest and their cost the largest.
    t_phase = time.time()
    budget_sec = 900.0
    truncated = False
    for _rep in range(3):
        if _rep > 0 and time.time() - t_phase > budget_sec:
            truncated = True
            break
        _wait_quiet(max_wait_sec=180.0)
        for name, fn in entrymod.queries().items():
            if name in SKIP_AT_BENCH_SF:
                continue
            if _rep > 0 and time.time() - t_phase > budget_sec:
                truncated = True
                break
            if (
                _rep == 2
                and out.get(name, 0.0) >= 5.0
                and quiet.get(name, False)
            ):
                continue
            # per-query probe (~0.25 s): a wave starting mid-rep would
            # otherwise taint every later query invisibly.  The flag
            # recorded for a query is the probe state of the rep that
            # produced its best (minimum) timing, so a contended number
            # is visibly contended instead of looking like a regression.
            q = _probe_now()["quiet"]
            t0 = time.time()
            try:
                df = fn(spark, SF_DIR)
                # hash-consume EVERY column: a bare count() lets Catalyst
                # prune deterministic UDF projections, silently timing only
                # the scan (round-1 under-measured sampen_permen /
                # gorilla_roundtrip / multimodal this way)
                df.select(
                    F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h")
                ).collect()
            except Exception as exc:  # noqa: BLE001 - one bad query must
                # not zero the whole per-round artifact; record it loudly
                sys.stderr.write(f"QUERY-ERROR {name}: {exc}\n")
                out.setdefault(name, -1.0)
                quiet.setdefault(name, False)
                continue
            dt = round(time.time() - t0, 3)
            if name not in out or dt < out[name]:
                out[name] = dt
                quiet[name] = q
            # several operators persist internally and never unpersist
            # (their result DataFrames stay lazily consumable); dropping
            # the cache between queries keeps timings independent and
            # the block manager lean across 27x2 query runs
            spark.catalog.clearCache()
    print(json.dumps(
        {"timings": out, "quiet": quiet, "budget_truncated": truncated}
    ))
    spark.stop()


def _kernel_burn(seed: int) -> int:
    """One worker task for the kernel ladder (module-level: picklable)."""
    import numpy as np

    from eristropy_spark.kernels.sampen_batch import sampen_many

    rng = np.random.default_rng(seed)
    seqs = [rng.normal(size=int(k)) for k in rng.integers(64, 257, size=700)]
    sampen_many(seqs, 2, 0.2, normalize=True)
    return 0


def _phase_kernel_ladder() -> None:
    """Raw-kernel multiprocessing ladder — no Spark, no JVM: isolates the
    engine's compute scaling from this sandbox's shared-memory-bus noise.
    On a multi-node cluster every executor adds its own memory bus, so
    this is the better predictor of N->4N executor scaling."""
    import multiprocessing as mp

    burn = _kernel_burn
    rates = {}
    for procs in (2, 8):
        with mp.Pool(procs) as pool:
            pool.map(burn, range(procs))  # warm
            t0 = time.time()
            pool.map(burn, range(procs * 3))
            rates[procs] = round(procs * 3 * 700 / (time.time() - t0), 1)
    print(
        json.dumps(
            {
                "seq_per_sec_2proc": rates[2],
                "seq_per_sec_8proc": rates[8],
                "efficiency_2_to_8": round((rates[8] / rates[2]) / 4, 3),
            }
        )
    )


def _run_sub(phase: str, cores: int) -> dict:
    env = dict(os.environ)
    cmd = [sys.executable, os.path.abspath(__file__), "--phase", phase, str(cores)]
    if phase == "headline" and 0 < cores < CPUS:
        # pin the WHOLE process tree (JVM task threads + Python workers)
        # to exactly `cores` CPUs — in local mode the Python workers run
        # in addition to the JVM's task threads, so an unpinned
        # "local[2]" really consumes ~2x the CPUs, inflating the
        # low-parallelism baseline and understating scaling efficiency.
        # taskset emulates a fixed-size executor the way a real cluster
        # container (YARN/K8s cpuset) would.
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    res = subprocess.run(
        cmd,
        capture_output=True,
        text=True,
        env=env,
        cwd=REPO,
    )
    if res.returncode != 0:
        raise RuntimeError(f"phase {phase}@{cores} failed:\n{res.stderr[-2000:]}")
    return json.loads(res.stdout.strip().splitlines()[-1])


def _median(vals: list[float]) -> float:
    s = sorted(vals)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


# priors = ~85% of this box's repeatedly-observed quiet rates (memcpy
# ~20 GB/s, sin+sum ~800 it/s across many sessions).  Seeding "best"
# with them keeps the FIRST pair from self-calibrating inside a wave
# (a contended first probe would otherwise define "quiet" down);
# observed probes still raise the bar when the box is faster.
_PROBE_BEST = {"gbps": 17.0, "cpu": 680.0}
# total sleep budget across all gates, so a permanently-slower box
# costs bounded wall time rather than max_wait per gate
_WAIT_BUDGET = {"remaining": 720.0}


def _bus_probe() -> float:
    """Shared-memory-bus bandwidth right now, in GB/s (best of 3 copies
    of a 128 MB buffer).  Bandwidth-contention waves show up directly
    as a depressed copy rate."""
    import numpy as np

    src = np.ones(16 * 1024 * 1024, dtype=np.float64)  # 128 MB
    dst = np.empty_like(src)
    np.copyto(dst, src)  # first-touch the destination pages untimed
    best = 0.0
    for _ in range(3):
        t0 = time.time()
        np.copyto(dst, src)
        dt = time.time() - t0
        best = max(best, (2 * src.nbytes / 1e9) / dt)
    return round(best, 2)


def _cpu_probe() -> float:
    """Cache-resident compute rate (iterations/s of a fixed sin+sum).
    This sandbox is a microVM on a shared host: CPU steal from outside
    the VM is invisible in /proc AND in the memcpy probe (the bus can
    be free while cycles are stolen), but it depresses this
    compute-bound rate directly — the r4b recording caught exactly that
    wave (probes ~19 GB/s, 32-core throughput down 3x)."""
    import numpy as np

    x = np.linspace(0.0, 1.0, 200_000)
    np.sin(x).sum()  # warm
    best = 0.0
    for _ in range(3):
        t0 = time.time()
        for _ in range(20):
            np.sin(x).sum()
        best = max(best, 20.0 / (time.time() - t0))
    return round(best, 1)


def _wait_quiet(threshold: float = 0.75, max_wait_sec: float = 240.0) -> dict:
    """Block until BOTH probes reach ``threshold`` of the best rates
    seen this bench run (or the wait budget expires), then return the
    probe values.  This is the least-contended-window detection the
    scaling ladder runs inside: the ladder measures the ENGINE's N→4N
    scaling, and recording a pair mid-wave measures the neighbors
    instead.  Bounded wait + recorded probe values keep it honest —
    a pair that had to record under contention is visible as low
    probe entries next to its efficiency."""
    waited = 0.0
    while True:
        p = _probe_now()
        if p["quiet"] or waited >= max_wait_sec or _WAIT_BUDGET["remaining"] <= 0:
            return p
        time.sleep(15.0)
        waited += 15.0
        _WAIT_BUDGET["remaining"] -= 15.0


def _probe_now(threshold: float = 0.75) -> dict:
    """One combined probe sample with its quiet verdict."""
    bus, cpu = _bus_probe(), _cpu_probe()
    _PROBE_BEST["gbps"] = max(_PROBE_BEST["gbps"], bus)
    _PROBE_BEST["cpu"] = max(_PROBE_BEST["cpu"], cpu)
    return {
        "gbps": bus,
        "cpu": cpu,
        "quiet": bool(
            bus >= threshold * _PROBE_BEST["gbps"]
            and cpu >= threshold * _PROBE_BEST["cpu"]
        ),
    }


def _best_of(phase: str, cores: int, reps: int = 3) -> dict:
    """Max-throughput of ``reps`` runs — the sandbox shares a memory bus
    with neighbors, so single runs at high thread counts are noisy; the
    best run is the least-contended estimate of machine capability.
    The median rate of the reps is recorded alongside (key
    ``seq_per_sec_median``) so the artifact shows the typical-contention
    number next to the best-case one."""
    runs = [_run_sub(phase, cores) for _ in range(reps)]
    best = max(runs, key=lambda r: r["seq_per_sec"])
    return {
        **best,
        "seq_per_sec_median": round(_median([r["seq_per_sec"] for r in runs]), 1),
    }


def _ladder(
    lo_cores: int,
    hi_cores: int,
    pairs: int = 3,
    quiet_gate: bool = False,
    budget_sec: float | None = None,
) -> dict:
    """Scaling ladder measured in back-to-back (lo, hi) PAIRS.

    Neighbor-contention waves on this box last minutes and hit the
    multi-core level hardest (it demands more of the shared memory
    bus), so an efficiency computed from independently-collected bests
    mixes different contention regimes.  Running the two levels
    back-to-back gives each pair ONE regime; the best pair is the
    least-contended estimate of true N→4N scaling and the median pair
    is the typical-contention one.  Both are recorded, plus the raw
    per-pair ratios, plus the legacy best/best ratio for continuity."""
    factor = hi_cores / lo_cores
    los, his, effs, probes, valid = [], [], [], [], []
    max_attempts = pairs + 3 if quiet_gate else pairs
    attempts = 0
    t0 = time.time()
    while attempts < max_attempts and (
        sum(valid) < pairs if quiet_gate else attempts < pairs
    ):
        # wall budget: a long contention wave makes every pair 2-3x
        # slower AND invalid, so the retry loop (up to pairs+3
        # attempts) could otherwise run ~40 min for one ladder — twice
        # this bench timed out that way.  At least 2 pairs always run;
        # a budget-truncated ladder is visible as n_pairs < pairs in
        # the artifact.
        if budget_sec is not None and attempts >= 2 and (
            time.time() - t0 > budget_sec
        ):
            break
        attempts += 1
        pre = _wait_quiet() if quiet_gate else None
        lo = _run_sub("headline", lo_cores)
        hi = _run_sub("headline", hi_cores)
        los.append(lo)
        his.append(hi)
        effs.append((hi["seq_per_sec"] / lo["seq_per_sec"]) / factor)
        if quiet_gate:
            # a pair is VALID only if the quiet regime HELD for its
            # whole duration (~80 s — longer than wave onset): the
            # post-pair probe must still read quiet.  Contended pairs
            # stay in the artifact (pair_efficiencies/probes) but are
            # excluded from the median by this pre-registered criterion
            # — never by their efficiency value.
            post = _probe_now()
            probes.append({"pre": pre, "post": post})
            valid.append(bool(pre["quiet"] and post["quiet"]))
    best_lo = max(los, key=lambda r: r["seq_per_sec"])
    best_hi = max(his, key=lambda r: r["seq_per_sec"])
    valid_effs = (
        [e for e, v in zip(effs, valid) if v] if quiet_gate else effs
    )
    if not valid_effs:  # every pair hit a wave: fall back, visibly
        valid_effs = effs
    return {
        "lo": best_lo,
        "hi": best_hi,
        "lo_median": round(_median([r["seq_per_sec"] for r in los]), 1),
        "hi_median": round(_median([r["seq_per_sec"] for r in his]), 1),
        "pair_efficiencies": [round(e, 3) for e in effs],
        "eff_best_pair": round(max(valid_effs), 3),
        "eff_median_pair": round(_median(valid_effs), 3),
        "eff_median_all_pairs": round(_median(effs), 3),
        "eff_of_bests": round(
            (best_hi["seq_per_sec"] / best_lo["seq_per_sec"]) / factor, 3
        ),
        "tiers_equal": all(
            r["tiers"] == los[0]["tiers"] for r in los + his
        ),
        **(
            {"probes": probes, "pair_valid": valid, "n_valid": sum(valid)}
            if quiet_gate
            else {}
        ),
    }


# The bench's consumer keeps only the LAST ~2000 chars of stdout and
# parses the last complete line, so the claim of record must fit there.
FINAL_LINE_CHARS = 1900
# named per-query leaves the final line always keeps (when it has them)
MIN_NAMED_QUERIES = 20


def final_line(head: dict, queries: dict, summary: dict) -> str:
    """The bench's compact last stdout line, trimmed to FINAL_LINE_CHARS.

    The per-query timings are the POINT of the final line, and the
    contract has outgrown a full named dict (~190 queries x ~20
    chars).  So the line ALWAYS carries every timing as
    ``q_all`` — a values array in sorted-query-name order (names are
    recoverable from sorted(queries().keys()) or the detail line) — plus
    a named ``queries`` dict of the SLOWEST k.  Deterministic trim
    ladder: the contended-query list collapses to a count, then q_all
    drops to 1 dp, and only then k shrinks, never below
    MIN_NAMED_QUERIES: a line trimmed to k = 0 leaves no named leaves
    to compare between runs.
    """
    summary = dict(summary)
    q_all = [round(queries[n], 2) for n in sorted(queries)]
    by_slow = sorted(queries, key=lambda n: -queries[n])

    def render(k: int, dp: int) -> str:
        return json.dumps(
            {
                **head,
                "queries": {n: round(queries[n], 2) for n in by_slow[:k]},
                "n_queries": len(queries),
                "q_all": [round(v, dp) for v in q_all],
                "q_order": "sorted query names",
                "summary": summary,
            },
            separators=(",", ":"),
        )

    k, dp = len(queries), 2
    line = render(k, dp)
    if len(line) > FINAL_LINE_CHARS and "contended_queries" in summary:
        summary["n_contended"] = len(summary.pop("contended_queries"))
        line = render(k, dp)
    if len(line) > FINAL_LINE_CHARS:
        dp = 1
        line = render(k, dp)
    floor = min(k, MIN_NAMED_QUERIES)
    while len(line) > FINAL_LINE_CHARS and k > floor:
        k = max(floor, k - 5)
        line = render(k, dp)
    return line


def main() -> None:
    if len(sys.argv) >= 4 and sys.argv[1] == "--phase":
        phase, cores = sys.argv[2], int(sys.argv[3])
        if phase == "kernel":
            _phase_kernel_ladder()
        else:
            (_phase_headline if phase == "headline" else _phase_queries)(cores)
        return

    # Primary scaling ladder: N=1 -> 4N=4 cores.  This single box has a
    # shared memory bus worth ~8 cores of kernel bandwidth (BASELINE.md);
    # an N->4N EXECUTOR scale-up adds a bus with every node, so the
    # sandbox-faithful emulation keeps BOTH ladder levels under the
    # ceiling.  The 2->8 ladder (whose top level saturates the bus) and
    # the full-CPU run are reported as auxiliary evidence; reps guard
    # against neighbor contention (observed halving identical runs).
    # primary 1→4 ladder in back-to-back pairs (contention-matched),
    # FIVE pairs, each gated on a quiet-bus window (_wait_quiet) — the
    # median pair is the claim of record, so it needs enough quiet
    # samples that one wave can't drag it; aux 2→8 ladder likewise
    # (its round-2 recording caught a wave: 0.634 recorded vs 0.803
    # clean)
    primary = _ladder(1, 4, pairs=5, quiet_gate=True, budget_sec=1500.0)
    aux2_8 = _ladder(2, 8, pairs=3, quiet_gate=True, budget_sec=600.0)
    _wait_quiet()
    aux = _best_of("headline", CPUS, reps=2)
    lo, hi = primary["lo"], primary["hi"]
    kernel_ladder = _run_sub("kernel", 0)
    # one gate before the per-query phase (best-of-3 inside handles
    # shorter blips; a wave at launch would otherwise taint all 3 reps)
    _wait_quiet()
    qres = _run_sub("queries", CPUS)
    queries, queries_quiet = qres["timings"], qres.get("quiet", {})

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    result = {
        "metric": "entropy_rollup_pipeline_wall_sec",
        "value": aux["wall_sec"],
        "unit": "sec",
        "queries": queries,
        "queries_quiet": queries_quiet,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "headline": {
            "n_seq": hi["n_seq"],
            "seq_per_sec_loN": lo["seq_per_sec"],
            "seq_per_sec_hiN": hi["seq_per_sec"],
            "seq_per_sec_loN_median": primary["lo_median"],
            "seq_per_sec_hiN_median": primary["hi_median"],
            "cores_loN": lo["cores"],
            "cores_hiN": hi["cores"],
            "scaling_efficiency": primary["eff_best_pair"],
            "scaling_efficiency_median": primary["eff_median_pair"],
            "scaling_efficiency_median_all_pairs": primary["eff_median_all_pairs"],
            "scaling_efficiency_of_bests": primary["eff_of_bests"],
            "pair_efficiencies": primary["pair_efficiencies"],
            "pair_valid": primary.get("pair_valid"),
            "n_valid_pairs": primary.get("n_valid"),
            "probes": primary.get("probes"),
            "ladder_note": (
                "efficiencies are per back-to-back (lo,hi) pair so both "
                "levels share one contention regime; a pair is VALID "
                "only if memcpy + compute-rate probes read quiet (>=0.75 "
                "of run bests, priors-seeded) both BEFORE and AFTER it — "
                "waves that start mid-pair invalidate it by that "
                "pre-registered criterion, never by its value.  "
                "scaling_efficiency[_median] summarize VALID pairs; "
                "the all-pairs median and every raw pair+probe are "
                "recorded alongside"
            ),
            "ladder_2_to_8": {
                "seq_per_sec_2": aux2_8["lo"]["seq_per_sec"],
                "seq_per_sec_8": aux2_8["hi"]["seq_per_sec"],
                "seq_per_sec_2_median": aux2_8["lo_median"],
                "seq_per_sec_8_median": aux2_8["hi_median"],
                "scaling_efficiency": aux2_8["eff_best_pair"],
                "scaling_efficiency_median": aux2_8["eff_median_pair"],
                "pair_efficiencies": aux2_8["pair_efficiencies"],
                "pair_valid": aux2_8.get("pair_valid"),
                "probes": aux2_8.get("probes"),
                "note": "top level saturates the shared bus (~8 cores of bandwidth); aux evidence",
            },
            "entropy_sec_loN": lo["entropy_sec"],
            "entropy_sec_hiN": hi["entropy_sec"],
            "cascade_sec_hiN": hi["cascade_sec"],
            "seq_per_sec_maxcores": aux["seq_per_sec"],
            "cores_max": aux["cores"],
            "tiers_equal_across_parallelism": (
                primary["tiers_equal"]
                and aux2_8["tiers_equal"]
                and lo["tiers"] == aux2_8["lo"]["tiers"] == aux["tiers"]
            ),
            "kernel_mp_ladder": kernel_ladder,
        },
    }
    # Full detail record (probe arrays, per-pair data) on its own line,
    # THEN a compact final line.  The driver retains only the last ~2 kB
    # of stdout as BENCH_r{N}.json — round 4's probe arrays pushed the
    # headline numbers and per-query timings out of that window, leaving
    # the claim of record (primary-ladder median valid pair) unrecorded.
    # The final line therefore carries ONLY the essentials: headline
    # wall, per-query timings (2-decimal), the primary/aux ladder
    # medians, valid-pair count, tier equality, and which queries' best
    # rep was contended.  It stays a self-contained contract JSON line
    # (metric/value/unit/queries/sf).
    print(json.dumps({"detail": result}))
    contended = sorted(k for k, ok in queries_quiet.items() if not ok)
    summary = {
        "wall_sec": aux["wall_sec"],
        "seq_per_sec_maxcores": aux["seq_per_sec"],
        "seq_per_sec_loN": lo["seq_per_sec"],
        "seq_per_sec_hiN": hi["seq_per_sec"],
        "primary_median_valid_pair": primary["eff_median_pair"],
        "primary_median_all_pairs": primary["eff_median_all_pairs"],
        "n_valid_pairs": primary.get("n_valid"),
        "aux_2_to_8_median": aux2_8["eff_median_pair"],
        "kernel_mp_eff_2_to_8": kernel_ladder["efficiency_2_to_8"],
        "tiers_equal": result["headline"]["tiers_equal_across_parallelism"],
        "contended_queries": contended,
    }
    if qres.get("budget_truncated"):
        summary["queries_budget_truncated"] = True

    print(final_line(
        {
            "metric": "entropy_rollup_pipeline_wall_sec",
            "value": aux["wall_sec"],
            "unit": "sec",
            "sf": result["sf"],
        },
        queries,
        summary,
    ))


if __name__ == "__main__":
    main()
