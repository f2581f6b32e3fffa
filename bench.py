#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints TWO
JSON lines: a full detail record (per-query timings/spread/floors), then
a compact headline line LAST — {"metric": ..., "value": total_sec,
"unit": "sec", "full_value": ..., "throughput_qps": ..., "scale_value":
..., "sf": ...}. The driver captures only a 2000-char stdout TAIL, so
the graded line must be the final, short one (r08 verdict item 1:
BENCH_r07/r08 recorded parsed=null because the single detail line
outgrew the tail). The headline is asserted <1500 chars.

Two series in one JSON (round-3 verdict: keep regressions attributable):
- "value" — the FROZEN 13-query baseline set (exactly BENCH_r01's
  queries, listed in BASELINE13) — directly comparable to the recorded
  36.96 s baseline and across every round.
- "full_value" — every bench-tagged query, including entries promoted
  after round 1; grows with coverage and is NOT baseline-comparable.

Each query is forced end-to-end with the `noop` sink (full computation, no
driver collect — the fair analogue of the reference's write-phase timing,
utils.py:54-84). Timing excludes SparkSession startup, includes plan build +
execution per query.

Each query runs $SPARK_GRAFT_REPEATS times (default 3; the reference runs
N_REPEATS=5, benchmark_runner.py:9) and reports the BEST repeat, so
round-over-round comparisons measure the plan, not JIT/page-cache jitter.
The spread is reported per query in "spread" (max-min across repeats).

Plan-cache priming (round-5 verdict item): before its timed repeats,
each query runs ONCE untimed at the PRIME dir ($SPARK_GRAFT_PRIME_DIR,
default: the sf0.001 sibling of sf_dir, falling back to
/root/testdata/sf0.001; skipped entirely when neither exists — e.g. a
relocated zipf corpus with no tiny sibling, ADVICE r05). Whole-stage-
codegen classes are cached by generated-source hash, so the tiny-SF run
compiles the same units the sf0.1 plan uses; without it the first timed
repeat pays a codegen/classload tax that best-of-N hides in "value" but
leaks into "spread" (dedup_minhash_lsh measured ±3 s cold vs 1.8 s warm
— SCALE.md). The timed repeats still include per-repeat plan BUILD
cost; only one-time JVM compilation is amortized, exactly like the
reference's repeat amortization.

Before reading a round-over-round move as a regression, read SCALE.md
"Bench variance floor": the frozen-13 idle-machine band is 11.6-19 s on
identical plans; compare per-query bests, never totals, and never trust
a bench taken alongside other load.

Throughput series (round-5 verdict item 4): after the serial timings,
a fixed 4-stream × 6-query concurrency phase (THROUGHPUT6, rotated
per stream, FAIR pools — the session is built with
spark.scheduler.mode=FAIR, a static conf) emits "throughput_qps" =
streams × queries / wall. Like frozen-13, the set never grows, so the
series is comparable across rounds and makes scheduler/concurrency
regressions visible (a single-stream serial bench can't see them).
Recipe: runner.run_registry_throughput(spark, sf_dir, THROUGHPUT6, 4).
Since round 14 the phase is a 2-POINT CURVE (r06 verdict item 3): the
same frozen set at 4 and 16 streams, emitted as "throughput_qps"
(4-stream, comparable to every prior round) and "throughput_qps_16" —
FAIR-pool contention regressions are invisible at low concurrency.
Since round 17 each streams-point runs TP_REPEATS times and reports
the BEST qps (r09 verdict item 1 — see TP_REPEATS), with the raw
per-repeat readings and frozen idle bands in the detail record.
Disable with SPARK_GRAFT_THROUGHPUT=0.

Scale series (r06 verdict item 2): the 2× envelope was certified only
at sf0.1; SCALE8 is a frozen 8-query set (scan/join/agg, window,
prefix-sum rolling, text explode+tf-idf, minhash-LSH) timed ONCE each
at a 10× corpus — $SPARK_GRAFT_SCALE_DIR, default
<repo>/.localdata/sf1zipf (the round-10 corpus: round-9 generated sf1
TPC-H tables + 50k documents over a Zipf(s=1) 30k-token vocabulary;
regenerate with `python -m gpu_bdb_spark.testdata_gen
.localdata/sf1zipf 1.0 30000` — SCALE.md round 10). Emitted as
"scale_value" + per-query "scale_queries"; skipped (null) when the
dir is absent so the sf0.1 series never breaks. Since round 11 each
scale query runs SCALE_REPEATS times and reports the BEST, with the
max−min in "scale_spread" (r10 verdict item 6: the single-shot series
recorded movers like rolling_user_24h 1.92→3.04 s with zero code
change and nobody could classify them; this round's own baseline read
pricing_summary at 29.8 s single-shot on a machine stall). Disable
with SPARK_GRAFT_SCALE=0.

Driver visibility (r10 verdict item 1): the HEADLINE line now carries
the full per-query best dict ("queries") — the driver's 2000-char
stdout-tail capture parses only the last JSON line, so per-query
timings, the round-over-round geomean and the low-core scaling table
were all dark while that dict lived only in the detail record. 21
entries ≈ 650 chars; the <1500 guard still protects the tail contract.
"""

from __future__ import annotations

import json
import os
import sys
import time

from gpu_bdb_spark.queries.registry import bench_specs
from gpu_bdb_spark.session import codegen_compilations, get_spark

#: The frozen baseline-comparable set: exactly the 13 queries timed in
#: BENCH_r01 (36.958 s recorded baseline at sf0.1). Never grows — new
#: bench-tagged entries land only in the full series.
BASELINE13 = (
    "agg_stats", "ann_cosine_topk", "ann_lsh_topk", "dedup_exact",
    "dedup_minhash_lsh", "last_views_before_purchase", "part_pairs",
    "pricing_summary", "revenue_by_nation", "sessionize_events",
    "text_quality", "token_counts", "window_rank_orders",
)

#: Full-series entries promoted for extension-family regression
#: visibility (round-5 verdict item 2) whose sf0.1 wall is ~10 s: TWO
#: timed repeats each (r07 verdict item 2 — a single repeat records
#: spread 0.0, so a judge can't tell variance from regression without
#: a control run; two repeats make the entry self-certifying while
#: keeping bench wall bounded). Never in the frozen series.
HEAVY_TWICE = ("pagerank_neardup",)

#: Frozen per-query variance floor (r07 verdict item 2): the best sf0.1
#: reading each query has EVER recorded across driver BENCH_r02–r07 on
#: an idle machine. A per-round best at or near its floor is machine-
#: noise-free; a best far above floor on an idle machine is a real
#: regression. FROZEN — never recomputed at runtime (that would defeat
#: the point); extend only when a new query is promoted (its first
#: recorded best becomes its floor). Denominated at sf0.1: emitted only
#: when the bench runs there. The frozen-13 total band on identical
#: plans is 11.6–19 s (SCALE.md "Bench variance floor").
FLOOR_S = {
    "agg_stats": 1.244, "ann_cosine_topk": 0.771, "ann_lsh_topk": 0.921,
    "dedup_exact": 0.376, "dedup_lsh_verified": 4.16,
    "dedup_minhash_lsh": 2.054, "dedup_spans": 1.406,
    "frequent_sequences": 0.8, "holt_trend_daily": 0.476,
    "jaccard_join_prefix": 1.905, "last_views_before_purchase": 0.394,
    "pagerank_neardup": 8.349, "part_pairs": 1.453,
    "pricing_summary": 1.062, "revenue_by_nation": 1.286,
    "rolling_zscore": 0.728, "sessionize_events": 0.384,
    "text_quality": 0.365, "token_counts": 0.456, "user_360": 0.599,
    "window_rank_orders": 0.388,
}

#: Idle-machine frozen-13 total band on identical plans (SCALE.md).
BAND_13_S = (11.6, 19.0)

#: Idle-machine scale_value (SCALE8 at sf1zipf) band on identical
#: plans — like the frozen-13 band, a single reading inside it carries
#: no signal. RE-BASELINED in round 16 when testdata_gen pinned 32MB
#: row groups (the old coalesce(1) corpus had ONE 177MB row group per
#: table, serializing every scan): three idle readings on the new
#: layout spanned 33.7-38.4 s; the old-layout band was 43.8-59.1 s
#: across six readings (SCALE.md "Scale-series variance band").
BAND_SCALE_S = (33.7, 38.4)

#: Frozen throughput-phase set (round-5 verdict item 4): six cheap-to-
#: moderate frozen-13 members, run 4 concurrent streams rotated. Fixed
#: forever like BASELINE13 so the qps series stays comparable.
THROUGHPUT6 = (
    "pricing_summary", "revenue_by_nation", "agg_stats",
    "token_counts", "sessionize_events", "window_rank_orders",
)

#: Repeats per streams-point of the throughput curve; the reported qps
#: is the BEST repeat (r09 verdict item 1: BENCH_r09 recorded qps4 =
#: 1.29 vs the 3.5-3.85 idle band while qps16 = 9.14 in the SAME run —
#: a whole-phase contention stall, not a straggler query: the isolated
#: idle probe, .claude/skills/verify/probe_throughput.py, shows no
#: (stream, query) cell above ~2.5 s and phase walls 2.6× tighter than
#: that reading. A single-shot qps at these ~7-12 s phase walls is the
#: least robust number in the bench; best-of-N absorbs a transient
#: stall exactly like the serial best-of-3 does).
TP_REPEATS = 2

#: Repeats per scale-series query (best-of-N like the serial phase;
#: r10 verdict item 6 — a single-shot reading cannot be classified as
#: stall vs regression without a control run).
SCALE_REPEATS = 2

#: Idle-machine qps bands on identical plans (probe_throughput.py,
#: round 17 — 3 rounds after a serial warm pass, plus the r16 in-bench
#: readings). Single readings inside the band carry no signal; the
#: FIRST concurrent phase after a cold start runs ~20% low (concurrent
#: codegen/FAIR-pool setup), which best-of-2 absorbs.
BAND_QPS4 = (2.7, 3.9)
BAND_QPS16 = (6.6, 9.4)

#: Frozen 10×-scale series (r06 verdict item 2): one family-diverse
#: query per scale-relevant shape, timed once each at the sf1zipf
#: corpus (6M lineitem / 1M events / 50k Zipf docs). Fixed forever so
#: the series stays comparable; new scale candidates get probes in
#: SCALE.md, not seats here.
SCALE8 = (
    "pricing_summary",        # 6M-row scan + decimal aggregate
    "revenue_by_nation",      # broadcast fact⋈dim join
    "agg_stats",              # distinct-leg + broadcast-join agg shape
    "sessionize_events",      # 1M-event timeout sessionization window
    "rolling_user_24h",       # prefix-sum trailing stats (hot-key-safe)
    "token_counts",           # Zipf-corpus explode + hash aggregate
    "tfidf_keywords",         # multi-exchange text + WindowGroupLimit
    "dedup_minhash_lsh",      # banded LSH bucket join, in-regime on Zipf
)


def _prime_dir(sf_dir: str) -> str | None:
    """Codegen-priming data dir (ADVICE r05: never hardcode): env
    override, else the sf0.001 sibling of sf_dir, else the default
    testdata sf0.001; None (skip priming) when nothing exists."""
    explicit = os.environ.get("SPARK_GRAFT_PRIME_DIR")
    if explicit:
        return explicit if os.path.isdir(explicit) else None
    for cand in (
        os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001"),
        "/root/testdata/sf0.001",
    ):
        if os.path.isdir(cand):
            return cand
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_REPEATS", "3")))
    # FAIR scheduling is a STATIC conf, needed by the throughput phase;
    # the serial phase submits one job at a time, where FAIR ≡ FIFO.
    spark = get_spark(app_name="gpu_bdb_spark-bench",
                      extra_conf={"spark.scheduler.mode": "FAIR"})
    prime_dir = _prime_dir(sf_dir)

    # Untimed warmup: load parquet/codegen/shuffle classes so the JVM
    # class-loading tax (~4 s) doesn't land on the first timed query (the
    # reference amortizes this across 5 repeats, benchmark_runner.py:9).
    specs = bench_specs()
    missing = sorted(set(BASELINE13) - set(specs))
    if missing:
        raise SystemExit(f"frozen baseline queries missing from bench "
                         f"set: {missing}")
    warm = specs.get("pricing_summary") or next(iter(specs.values()))
    warm.fn(spark, prime_dir or sf_dir).write.format("noop").mode(
        "overwrite").save()

    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    codegen: dict[str, list[int]] = {}
    for name, spec in sorted(specs.items()):
        # prime this query's codegen units at the tiny SF (untimed; see
        # module docstring)
        if prime_dir:
            spec.fn(spark, prime_dir).write.format(
                "noop").mode("overwrite").save()
        runs: list[float] = []
        codegen[name] = []
        for _ in range(min(2, repeats) if name in HEAVY_TWICE
                       else repeats):
            c0 = codegen_compilations(spark)
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
            codegen[name].append(codegen_compilations(spark) - c0)
        timings[name] = round(min(runs), 3)
        spread[name] = round(max(runs) - min(runs), 3)
        print(f"  {name}: best {timings[name]:.3f}s "
              f"(spread {spread[name]:.3f}s over {len(runs)})",
              file=sys.stderr)

    base_total = round(sum(timings[n] for n in BASELINE13), 3)
    full_total = round(sum(timings.values()), 3)

    # 10×-scale series (r06 verdict item 2): one repeat per SCALE8
    # query at the scale dir; primed like the main series
    scale_timings: dict[str, float] | None = None
    scale_spread: dict[str, float] | None = None
    scale_dir = os.environ.get(
        "SPARK_GRAFT_SCALE_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     ".localdata", "sf1zipf"))
    if (os.environ.get("SPARK_GRAFT_SCALE", "1") != "0"
            and os.path.isdir(scale_dir)):
        # SCALE8 draws from the FULL registry, not the bench-tagged
        # subset — seating a query here must not grow full_value
        from gpu_bdb_spark.queries.registry import all_specs
        full_specs = all_specs()
        missing = sorted(set(SCALE8) - set(full_specs))
        if missing:
            raise SystemExit(f"frozen scale queries missing from "
                             f"registry: {missing}")
        scale_timings = {}
        scale_spread = {}
        for name in SCALE8:
            if prime_dir:
                full_specs[name].fn(spark, prime_dir).write.format(
                    "noop").mode("overwrite").save()
            runs = []
            for _ in range(SCALE_REPEATS):
                t0 = time.perf_counter()
                full_specs[name].fn(spark, scale_dir).write.format(
                    "noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            scale_timings[name] = round(min(runs), 3)
            scale_spread[name] = round(max(runs) - min(runs), 3)
            print(f"  [scale] {name}: best {scale_timings[name]:.3f}s "
                  f"(spread {scale_spread[name]:.3f}s over {len(runs)})",
                  file=sys.stderr)

    # Fixed-stream concurrency phase: 2-point curve (r06 verdict item 3),
    # best-of-TP_REPEATS per point (r09 verdict item 1)
    throughput = None
    throughput16 = None
    tp_runs: dict[str, list[float]] = {}
    if os.environ.get("SPARK_GRAFT_THROUGHPUT", "1") != "0":
        from gpu_bdb_spark.runner import run_registry_throughput
        for streams in (4, 16):
            qps_runs: list[float] = []
            for _ in range(TP_REPEATS):
                tp = run_registry_throughput(
                    spark, sf_dir, list(THROUGHPUT6), n_streams=streams)
                qps_runs.append(tp["queries_per_sec"])
                print(f"  throughput: {tp['queries_per_sec']} q/s "
                      f"({tp['n_streams']} streams x {len(THROUGHPUT6)} "
                      f"queries in {tp['wall_s']}s)", file=sys.stderr)
            tp_runs[str(streams)] = qps_runs
            if streams == 4:
                throughput = max(qps_runs)
            else:
                throughput16 = max(qps_runs)

    for line in result_lines(
            sf=sf, repeats=repeats, timings=timings, spread=spread,
            base_total=base_total, full_total=full_total,
            throughput=throughput, throughput16=throughput16,
            scale_timings=scale_timings,
            scale_dir=scale_dir if scale_timings else None,
            tp_runs=tp_runs or None, scale_spread=scale_spread,
            codegen=codegen):
        print(line)


def result_lines(*, sf, repeats, timings, spread, base_total, full_total,
                 throughput, throughput16, scale_timings, scale_dir,
                 tp_runs=None, scale_spread=None, codegen=None):
    """The two stdout JSON lines: detail first, compact headline LAST.

    The driver captures only a 2000-char stdout TAIL and parses the JSON
    it finds there; the detail line outgrew that in r07/r08 (BENCH
    parsed=null two rounds — the graded value went dark), so the
    headline is emitted last and asserted <1500 chars. Since round 11
    the headline ALSO carries the full per-query best dict ("queries",
    the driver contract's per-query field): with it only in the detail
    record, PERF_r10 had per_query={}, no geomean and an empty scaling
    table (r10 verdict item 1). tests/test_bench_contract.py pins the
    truncate-then-parse path including the per-query dict.
    """
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    detail = json.dumps({
        "metric": "gpu_bdb_spark frozen 13-query baseline set wall time "
                  f"(best of {repeats}) [detail]",
        "value": base_total,
        "unit": "sec",
        "full_value": full_total,
        "full_n_queries": len(timings),
        "baseline_queries": list(BASELINE13),
        "queries": timings,
        "spread": spread,
        "repeats": repeats,
        # Janino compilations per timed repeat (after priming): a warm
        # repeat above 0 is a query whose generated code misses the
        # codegen cache on every call.
        "codegen_compiles": codegen,
        # Frozen per-query idle-machine floor + frozen-13 total band
        # (sf0.1-denominated; null elsewhere) — lets a reader call a
        # mover without a control run: best ≈ floor ⇒ noise-free
        # reading; best ≫ floor on an idle machine ⇒ real regression.
        "floor_s": (
            {k: v for k, v in sorted(FLOOR_S.items()) if k in timings}
            if sf == "0.1" else None),
        "band_13_s": list(BAND_13_S) if sf == "0.1" else None,
        "throughput_qps": throughput,
        "throughput_qps_16": throughput16,
        "throughput_queries": list(THROUGHPUT6),
        "throughput_streams": 4,
        # best-of-TP_REPEATS per streams-point; the raw per-repeat qps
        # readings + frozen idle bands make a single low graded qps
        # attributable (inside band / transient stall / regression)
        # without a control run — the qps analogue of floor_s.
        "throughput_runs": tp_runs,
        "band_qps4": list(BAND_QPS4) if throughput is not None else None,
        "band_qps16": (list(BAND_QPS16)
                       if throughput16 is not None else None),
        "scale_value": (round(sum(scale_timings.values()), 3)
                        if scale_timings else None),
        "scale_queries": scale_timings,
        "scale_spread": scale_spread,
        "scale_repeats": SCALE_REPEATS if scale_timings else None,
        "band_scale_s": (list(BAND_SCALE_S) if scale_timings else None),
        "scale_sf_dir": scale_dir,
        "sf": sf_val,
    })
    headline = json.dumps({
        "metric": "gpu_bdb_spark frozen 13-query baseline set wall time "
                  f"(best of {repeats})",
        "value": base_total,
        "unit": "sec",
        "queries": timings,
        "full_value": full_total,
        "full_n_queries": len(timings),
        "throughput_qps": throughput,
        "throughput_qps_16": throughput16,
        "scale_value": (round(sum(scale_timings.values()), 3)
                        if scale_timings else None),
        "sf": sf_val,
    })
    if len(headline) >= 1500:
        # Not an assert: the guard must survive `python -O` — a silently
        # oversized headline is exactly the BENCH parsed=null regression
        # this contract exists to prevent.
        raise RuntimeError(
            f"bench headline line grew to {len(headline)} chars — it must "
            f"stay under the driver's 2000-char stdout-tail capture; move "
            f"new series into the detail line above")
    return [detail, headline]


if __name__ == "__main__":
    main()
