#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": "...", "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full computation,
no driver collect). The set started as BASELINE.md §2's protocol
(scan-agg, joins, count-distinct cube, window top-n, distinct, global
sort, minhash dedup, embedding top-k, wordcount) and grew batch by
batch with every heavyweight operator added since — ~70 queries
spanning curation, retrieval, sketches, graph, temporal analytics,
storage roundtrips and the TPC-H-flavored depth set. Per-query
rationale and round-over-round deltas live in SCALE.md.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

BENCH_QUERIES = [
    "q1_groupby_agg",
    "join_inner",
    "mesh_join",
    "cube_count_distinct",
    "grouping_combos",
    # r11: exact percentile per cuboid — the reference's flagship
    # one-job cube-median capability, benched since it landed
    "cube_median",
    "topn",
    "distinct",
    "sort_limit",
    "wordcount",
    "minhash_lsh",
    # minhash_lsh_fast moved out of queries() in r6 (no oracle is
    # possible for the JVM hash path) but stays benched via _EXTRA —
    # it is the production-speed tier, so its perf still gates.
    "minhash_lsh_fast",
    "embedding_topk",
    "sessionize",
    "asof_join",
    "summary_rewrite",
    "corpus_pipeline",
    # r6: ivf_topk now times the attested recall-contract query (ANN
    # probe + in-query exact brute-force ground truth), so its number
    # includes one embedding_topk-shaped pass on top of the index probe
    "ivf_topk",
    # r02 additions: heaviest previously-unbenched operators, so
    # regressions in them show up in round-over-round deltas
    # r11: the benched row is the scale-safe corpus-relative-cut
    # spelling (the one SCALE.md recommends at 100 TB — the uncut
    # twin's candidate growth is measured super-linear, exp 1.27);
    # uncut ngram_jaccard history lives in BENCH_r01..r10
    "ngram_jaccard_cut",
    "dedup_clusters",
    "rank",
    # r05 additions: the new curation operators (two-sided shingle
    # join, line-frequency anti-join + reassembly, distributed prefix
    # sum) — bench_schema_version 3 marks the set change
    "contamination",
    "boilerplate_removal",
    "sequence_pack",
    # r05 second batch: corpus-wide paragraph dedup (winner-struct
    # agg + reassembly), tf-idf top-terms (diamond lineage +
    # WindowGroupLimit), zero-shuffle classifier inference, dataset
    # mixing, frozen-model BPE apply (Arrow kernel throughput), and
    # the bucketed embedding near-dup rescoring
    "paragraph_dedup",
    "tfidf_top_terms",
    "quality_classifier",
    "mixture_sample",
    "bpe_apply_exact",
    "embedding_neardup",
    # r05 third batch: 4-table join depth + the blocklist DFA pass
    "revenue_by_nation",
    "blocklist_filter",
    # r05 fourth batch: retrieval prep (token-window chunking, hashing-
    # trick embedding) and SymSpell-blocked entity resolution
    "chunk_documents",
    "hashed_embedding",
    "fuzzy_pairs",
    # r05 fifth batch: lexical retrieval (BM25 fold), changelog
    # compaction (struct-max agg), deterministic sketches, and the
    # 3-iteration integer PageRank loop
    "bm25_search",
    "cdc_upsert",
    "hll_estimate",
    "cms_topk",
    "pagerank",
    "attribution",
    # r05 sixth batch: PQ search, depth-2 entity resolution, robust
    # stats, time-series resample/rolling, interval sweep, versioning
    "pq_adc_topk",
    "fuzzy_pairs2",
    "mad_outliers",
    "gap_fill",
    "rolling_revenue",
    "interval_union",
    "snapshot_diff",
    # r05 seventh batch: SemDeDup semantic dedup (cluster-bounded
    # pair stage), KMV distinct-set algebra (two TakeOrdered
    # sketches, tables never join), TPC-H-Q3 shipping priority
    "semantic_dedup",
    # r14: the production tier (float dots + hierarchical routing),
    # benched alongside the exact row it is contracted against — its
    # row time INCLUDES one exact-tier pass (the in-query ground truth)
    "semantic_dedup_prod",
    "kmv_set_ops",
    "shipping_priority",
    # bloom-filter semi-join pruning (fact side never shuffles).
    # jaccard_prefix is deliberately NOT benched: its OUTPUT is
    # quadratic in this corpus's planted dup-group sizes (~1M pairs
    # at sf0.1 even at t=0.9) — the bench shape is covered by
    # ngram_jaccard; the prefix-filter pruning win is pytest-pinned
    # instead (test_jaccard_prefix_indexes_fewer_postings).
    "bloom_prune",
    # production-hash twin (xxhash64 positions, bench-only via _EXTRA
    # like minhash_lsh_fast): the md5 row above stays the oracle path
    "bloom_prune_fast",
    # grouped 2-D skyline (window sweep) + the entity-resolution
    # end-cap (SymSpell-blocked fuzzy edges -> CC -> survivorship)
    "pareto_frontier",
    "golden_record",
    # temporal-table build + distributed quantile binning
    "scd2_build",
    "equidepth_histogram",
    # asymmetric containment dedup, bounded multi-source BFS, and the
    # Arrow-batched zlib redundancy signal
    "containment_pairs",
    "bfs_hops",
    "compression_ratio",
    "rolling_distinct_users",
    "label_centroids",
    "large_orders",
    "phrase_search",
    "pmi_pairs",
    "merge_roundtrip",
    "pii_redact",
    "mode_by_group",
    "quantile_histogram",
    "rfm_scores",
    "corpus_report",
    "returned_items",
    # r06 additions: skew diagnostics (3-column groupBy sweep),
    # degree-ordered triangle counting over the near-dup graph,
    # time-decayed per-user scoring, HRW sharding, and the
    # approx-percentile contract
    "skew_profile",
    "triangle_count",
    "decayed_revenue",
    "rendezvous_shard",
    "approx_quantile",
    # exact-substring-style span dedup (|tokens|-row hash shuffle)
    # and the JSONL interchange roundtrip
    "duplicate_spans",
    "jsonl_roundtrip",
    # six-rule data-quality suite: fused single-scan aggregates +
    # keyed uniqueness agg + two broadcast anti-joins
    "dq_expectations",
    # TPC-H depth additions: Q7-style 6-table bilateral volume and
    # Q14-style promotion share (broadcast part dim)
    "nation_volume",
    "promo_revenue",
    # r07 additions: the streaming-twin batch rows (leaderboard window
    # algebra shared with streaming.ingest.rank_windows; expectations
    # rule engine shared with the streaming monitor)
    "windowed_topn",
    "events_expectations",
    # r07 second batch: bigram-LM quality scoring (token-key joins),
    # DPR-style hard-negative mining (broadcast-anchor scorer), and
    # the near-dup ingest screen (band-ledger anti-joins — the
    # streaming ingest_neardup twin)
    "lm_perplexity",
    "hard_negatives",
    "neardup_ingest",
    # point-in-time SCD2 enrichment + versioned-snapshot reads
    "temporal_join",
    "time_travel",
    # r08 additions: the blocked fuzzy-ER mitigation (the 100 TB
    # answer to fuzzy_pairs2's output growth — exponent in SCALE.md),
    # the 64-bit hash-sketch near-dup screen, and corpus-lifetime
    # exact dedup (the md5 keyed-agg stage every ingest composes)
    "fuzzy_pairs_blocked",
    "simhash",
    "dedup_exact",
    # r10 addition: the iterative operator (3 Lloyd rounds, each a
    # full corpus scan + k x dim partial-sum shuffle + bounded collect)
    "kmeans_lloyd",
    # r12 additions: DSIR importance scoring (hashed unigram+bigram
    # features, exact integer log-ratio fold, one map stage +
    # TakeOrdered) and MOSS winnowing pairs (window-min fingerprints,
    # bounded posting-set pair expansion, no self-join)
    "dsir_weights",
    "winnow_pairs",
    # production-arithmetic ADC twin (_EXTRA, like bloom_prune_fast):
    # double dots/sums — the tier a real PQ fleet runs, and the
    # light-codegen path (the exact row's DECIMAL folds are its
    # JIT-heavy part)
    "pq_adc_topk_fast",
    # r13 second-half additions: the linear REWEIGHTING alternative to
    # pair dedup (SoftDedup commonness, 3 keyed shuffles, zero pair
    # expansion), the CCNet head/middle/tail split (per-lang NTILE
    # over bigram-LM ppl), temperature-flattened source sampling
    # (sqrt rates, zero corpus shuffles), and the per-domain quota
    # (WindowGroupLimit partial top-k)
    "soft_dedup",
    "perplexity_buckets",
    "temperature_mix",
    "domain_cap",
    # token-budget prefix selection (two-level prefix sum) and
    # token-share mixing (per-source bigint token sums + pushed gate)
    "token_budget",
    "token_mixture",
    # Gopher rule flags (one codegen projection, zero shuffles) and
    # quality-argmax dedup survivors (max_by over the CC labeling)
    "gopher_filter",
    "cluster_reps",
    # r13 batch 4: C4 line/page cleaning (codegen projection over
    # synthesized line structure), DoReMi mixture weights (one
    # map-side-combined groupBy + bounded driver fold), and D4-style
    # prototype pruning (kmeans labeling + one cluster_id rank shuffle)
    "c4_filter",
    "doremi_weights",
    "proto_prune",
    # r13 batch 5: UniMax water-fill (one groupBy + bounded fold) and
    # epoch-plan materialization (zero-shuffle generate over the scan)
    "unimax_budget",
    "repeat_upsample",
    # r13 batch 6: GPT-3-style span decontamination (|tokens|-row gram
    # explode + inverted-index bench join + per-doc interval fold)
    "decontaminate_spans",
    # r13 batch 7: the full 13-signal Gopher repetition set (~9x token
    # explode + keyed gram counts + coverage joins — the heaviest
    # per-doc text operator; its cost class is duplicate_spans')
    "gopher_repetition",
    # r13 batch 8: RefinedWeb line-wise corrections (pure codegen scan)
    "refinedweb_lines",
    # r14: Unicode NFC pass (Arrow mapInPandas — the one justified
    # Python kernel in the text tier; stdout-excluded, see below)
    "unicode_nfc",
    # r14 batch 2: best-fit-decreasing packing (per-shard greedy in
    # applyInPandas) and margin-based pair mining (DECIMAL pair
    # matrix + rank-ordered folds) — both stdout-excluded
    "bestfit_pack",
    "margin_align",
    # r14 batch 3: per-language rank cut (one group-key shuffle)
    "adaptive_cut",
    # r15: the production margin-mining tier (IVF candidates feeding
    # the unchanged margin rule), benched alongside the exact row it
    # is contracted against — its time INCLUDES one exact-tier pass
    # (the in-query ground truth, the semantic_dedup_prod convention)
    "margin_align_prod",
    # r15 batch 2: KN bigram model build (token-key shuffles, vocab-
    # bounded output), 3-epoch full-batch GD probe training (three
    # corpus scans + sorted two-level gradient folds), URL dedup (one
    # canonical-key groupBy over a codegen regexp chain), and the
    # span-corruption plan (zero-shuffle map)
    "kneser_ney_lm",
    "linear_probe",
    "url_dedup",
    "span_corruption",
    # code-vs-prose routing (one codegen regexp projection)
    "code_detect",
    # Heaps-law vocab curve (token explode + vocab-sized min-id agg)
    "vocab_growth",
    # SFT conversation assembly (one conv-key shuffle + bounded fold)
    "chat_assembly",
    # r16: order-3 recursive KN (one window explode + per-level
    # vocab-bounded prefix aggregates) and the fastText-table
    # logistic probe (3 corpus scans + sorted two-level folds)
    "kneser_ney_trigram",
    "logistic_probe",
    # r16: ICT pairs + bitext hard rules (both pure codegen
    # projections, zero shuffles)
    "ict_pairs",
    "bitext_filter",
]

#: The r01 baseline rows (BASELINE.md §2's protocol) — the judge's
#: vs-baseline gate compares exactly these, so they appear in EVERY
#: round's stdout map regardless of rotation (v7). minhash_lsh_fast
#: is r01-benched but not declared, so it lives in BENCH_DETAIL only.
BASELINE_PINNED = [
    "q1_groupby_agg", "join_inner", "mesh_join", "cube_count_distinct",
    "grouping_combos", "topn", "distinct", "sort_limit", "wordcount",
    "minhash_lsh", "embedding_topk", "sessionize", "summary_rewrite",
    "corpus_pipeline", "ivf_topk",
]

#: v7 (r15): the stdout map ROTATES instead of freezing (the r14
#: STDOUT_EXCLUDE froze the external record at the 89-row v6 set, so
#: drift on rows added after r14 was invisible to BENCH_r*.json).
#: Each round the map carries BASELINE_PINNED plus a round-robin
#: window of the remaining declared rows; 89 rows is the proven
#: 1-decimal fit (v6), so every declared row reaches the external
#: record within ceil((N - pinned) / (89 - pinned)) rounds — k=2 at
#: the current 94-row inventory (test_bench_payload pins coverage).
#: The rotation index is the count of committed BENCH_r*.json files:
#: stable within a round (the driver writes BENCH_r{N} at round end),
#: advances exactly once per round, and is replayable from git.
MAX_STDOUT_ROWS = 87


def _rotation_index(repo_dir: str) -> int:
    import glob

    return len(glob.glob(os.path.join(repo_dir, "BENCH_r[0-9]*.json")))


def _rotate_stdout_rows(
    timings: dict, declared_names: list, rot: int
) -> dict:
    """BASELINE_PINNED always; the rest of the declared rows via a
    round-robin window that advances by its own width each round, so
    consecutive rounds carry disjoint pool slices until the pool
    wraps. Pure function of (timings, declared order, rot) so the
    payload test can enumerate every rotation."""
    pinned = [n for n in BASELINE_PINNED if n in timings]
    pool = [
        n for n in declared_names if n in timings and n not in BASELINE_PINNED
    ]
    width = max(0, MAX_STDOUT_ROWS - len(pinned))
    if len(pool) <= width:
        window = pool
    else:
        start = (rot * width) % len(pool)
        window = (pool + pool)[start : start + width]
    keep = set(pinned) | set(window)
    # preserve BENCH_QUERIES order (timings dict is insertion-ordered)
    return {n: v for n, v in timings.items() if n in keep}


#: The driver records the LAST ~2000 chars of combined output and the
#: payload line prints last, so the line survives iff its own length
#: fits the window. Budget leaves margin for the trailing newline and
#: window-estimate error.
_STDOUT_BUDGET = 1950


def _stdout_payload(
    timings: dict,
    total: float,
    sf,
    rot: int | None = None,
    quiet: bool | None = None,
    pyloop_ds: int | None = None,
    anchor_rebase: bool = False,
) -> str:
    """The ONE compact stdout line. The driver's capture keeps the
    last ~2 KB of output (the full medians+runs payload truncated the
    official record in r5 AND r6, and r7's line sat at 1,929 bytes
    with 87 queries) — so stdout carries 1-decimal per-query mins
    only, degrading to integer seconds if the query count ever pushes
    the line past the budget; BENCH_DETAIL.json always keeps the full
    3-decimal mins + runs. tests/test_bench_payload.py pins the
    budget with worst-case widths so added rows can't silently
    re-truncate the driver record.

    bench-protocol version: 1 = single-shot (r01-r03), 2 = min-of-n
    repeats (r04), 3 = + medians, no module-global caches, default
    n=3 (r05+), 4 = compact stdout, 2-decimal mins (r07), 5 =
    1-decimal mins + integer-degrade armor (r08+), 6 = stdout map
    carries DECLARED rows only (r12 — the r11 line degraded to
    integer seconds at 93 rows; the _EXTRA/folded twins' mins live in
    BENCH_DETAIL.json, which the total still includes). Mins are
    computed identically across versions, so cross-round min
    comparisons remain valid via BENCH_DETAIL. 7 = the stdout map
    ROTATES (r15): BASELINE_PINNED rows every round plus a
    round-robin window of the rest, "rot" records the rotation index
    so the external record is self-describing — every declared row
    reaches some BENCH_r*.json within k=ceil(pool/width) rounds
    instead of the r14 freeze-out. 8 = + host attribution (r16):
    "quiet" (the quietness-gate verdict: true/false, null = gate
    never ran) and "pyloop_ds" (single-thread fingerprint in
    DECIseconds) ride the external line, so a degraded-host capture
    like BENCH_r15 (evening box, 0.52 s pyloop vs the 0.38 s anchor
    window) is self-attributing without opening SCALE.md."""
    import json

    def render(decimals: int, rows: dict, dropped: int = 0) -> str:
        q = {
            n: (round(v, decimals) if decimals else int(round(v)))
            for n, v in rows.items()
        }
        d = {
            "metric": "bench_total_wall_sec",
            "value": total,
            "unit": "sec",
            "queries": q,
            "v": 8,
            "sf": sf,
        }
        if rot is not None:
            d["rot"] = rot
        # always emitted (null quiet = gate never ran): a missing key
        # would be indistinguishable from a pre-v8 line
        d["quiet"] = quiet
        d["pyloop_ds"] = pyloop_ds
        # r17 (ADVICE): a rebase-assisted quiet pass self-describes —
        # emitted only when the flag fired, so an ordinary line's
        # byte budget is unchanged and pre-r17 lines parse identically
        if anchor_rebase:
            d["anchor_rebase"] = True
        if dropped:
            d["dropped"] = dropped
        return json.dumps(d, separators=(",", ":"))

    p = render(1, timings)
    if len(p) <= _STDOUT_BUDGET:
        return p
    p = render(0, timings)
    if len(p) <= _STDOUT_BUDGET:
        return p
    # Final guard (r10): even the integer rung overflows — the query
    # count outgrew the envelope. Keep the heaviest rows that fit
    # (they are the ones worth eyeballing in the record; every row's
    # full 3-decimal min already lands in BENCH_DETAIL.json) and
    # count the rest in "dropped" so the stdout line stays parseable
    # at ANY future query count instead of front-truncating the
    # driver record as in r5/r6.
    order = sorted(timings, key=lambda n: timings[n], reverse=True)
    for keep in range(len(order), -1, -1):
        kept = {n: timings[n] for n in order[:keep]}
        p = render(0, kept, dropped=len(order) - keep)
        if len(p) <= _STDOUT_BUDGET:
            return p
    return p  # unreachable: keep=0 renders a constant-size line


def host_fingerprint() -> dict:
    """~2 s single-thread CPU fingerprint recorded in BENCH_DETAIL so
    cross-round drift can be attributed to the box, not the code
    (r14->r15 root cause: every row — including fixed-work trivial
    ones like wordcount — drifted ~2x with zero code changes; an
    isolated idle re-measure landed at r01-era values, i.e. the r13
    round sat on a faster/less-contended host. With this fingerprint
    committed per round, the next such drift is a one-line diff
    instead of a forensic session)."""
    import hashlib
    import time as _t

    t0 = _t.perf_counter()
    s = 0
    for i in range(10_000_000):
        s += i
    pyloop = _t.perf_counter() - t0
    data = b"x" * 1_000_000
    t0 = _t.perf_counter()
    for _ in range(100):
        hashlib.md5(data).hexdigest()
    md5_sec = _t.perf_counter() - t0
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = list(map(int, parts[1:]))
        tot = sum(vals)
        steal_cum_pct = round(100.0 * vals[7] / tot, 2) if tot else None
    except (OSError, IndexError, ValueError):
        steal_cum_pct = None
    return {
        "pyloop10m_sec": round(pyloop, 3),
        "md5_100mb_sec": round(md5_sec, 3),
        "steal_cum_pct": steal_cum_pct,
        "loadavg_1m": os.getloadavg()[0],
    }


def warmup(spark, sf_dir: str) -> None:
    """The protocol's uncounted warmups, shared with
    tools/triage_bench.py so triage numbers are measured under the
    SAME protocol as the official record (a drifted copy-paste would
    invalidate regression attributions): JVM/codegen/parquet-reader
    warmup on a trivial action, then a Python-worker + Arrow batch."""
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    import pandas as pd
    from pyspark.sql.functions import col, pandas_udf

    double_it = pandas_udf(lambda s: pd.Series(s * 2), "long")
    spark.range(100).select(double_it(col("id"))).collect()


def timed_run(spark, fn, sf_dir: str) -> float:
    """One timed end-to-end execution under the protocol (noop sink =
    full computation, no driver collect). Shared with triage_bench.
    Roundtrip queries memoize their STORE step per session
    (_materialize_once); reset so EVERY timed run pays the full
    store->load path — otherwise runs 2..n time only the read side
    and the min stops measuring the writer."""
    from cubert_spark.queries.extensions import reset_materialized

    reset_materialized()
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def _regressed_rows(
    timings: dict, prev_queries: dict, prev_runs: dict, names: list
) -> list:
    """Rows whose fresh min exceeds the previous committed min by more
    than that row's previously observed spread — the same rule
    SCALE.md's round-over-round triage uses. Tolerance floors: 15% of
    the old min (whole-suite cross-round variance is real even on a
    clean machine — r10 saw a diffuse +6% on untouched code) and an
    absolute 50 ms so sub-0.3s rows don't flap on timer noise."""
    out = []
    for n in names:
        old = prev_queries[n]
        spread = (max(prev_runs[n]) - old) if n in prev_runs else 0.0
        if timings[n] > old + max(spread, 0.15 * old, 0.05):
            out.append(n)
    return out


#: r15 (VERDICT r14 task 2): the prev-pass-only gate RATCHETS — r14's
#: minhash_lsh committed medians walked 3.8 -> 5.6 -> 9.1 s with
#: quiet_pass=true at every step because each pass compared only to
#: the one before it. The anchor gate pins each row to its BEST-EVER
#: quiet median (BENCH_ANCHORS.json, monotone-decreasing, updated
#: only by quiet passes) and fails quiet_pass when any row's fresh
#: median exceeds ANCHOR_FACTOR x its anchor — no number of
#: intermediate quiet passes can launder a slow drift past it. The
#: 0.15 s absolute floor keeps sub-0.3 s rows from flapping on timer
#: noise (1.5 x 0.2 s = 0.3 s is within box weather).
ANCHOR_FACTOR = 1.5
ANCHOR_ABS_FLOOR = 0.15


def _anchor_regressed(medians: dict, anchors: dict, names: list) -> list:
    """Rows whose fresh median exceeds ANCHOR_FACTOR x the pinned
    best-ever quiet median (and the absolute floor). Pure so tests
    can replay committed-median sequences against it."""
    out = []
    for n in names:
        a = anchors.get(n)
        if a is None or n not in medians:
            continue
        m = medians[n]
        if m > ANCHOR_FACTOR * a and m > a + ANCHOR_ABS_FLOOR:
            out.append(n)
    return out


def _updated_anchors(medians: dict, anchors: dict, names: list) -> dict:
    """Fold a QUIET pass into the anchor file: existing anchors only
    move DOWN (best-ever), new rows seed at their first quiet median.
    Replaying r14's 3.8 -> 5.6 -> 9.1 sequence through this keeps the
    anchor at 3.8, so the 9.1 pass fails the gate (the test pins it)."""
    out = dict(anchors)
    for n in names:
        if n in medians:
            out[n] = min(out.get(n, medians[n]), medians[n])
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    # keep the CAPTURED STRING too: the official-protocol check below
    # compares it (not the parsed float) so regex drift (a trailing
    # '.', a no-match -1.0) can't silently route the official run to
    # a suffixed detail file — and the parse itself is defensive, or
    # the same trailing-dot capture ('sf0.1.bak' -> '0.1.') would
    # crash at startup before the routing guard ever ran
    sf_str = m.group(1) if m else ""
    try:
        sf = float(sf_str) if sf_str else -1.0
    except ValueError:
        sf = -1.0

    from cubert_spark import get_session
    from cubert_spark.session import codegen_compiles
    from cubert_spark.queries import (
        all_queries,
        extra_bench_queries,
        folded_queries,
    )

    # bench-only rows (no possible oracle) come from the ONE shared
    # registry; folded contract-twins (driver inventory consolidation,
    # r7) stay benched — perf coverage is independent of rotation
    _extra = extra_bench_queries()
    _extra.update(folded_queries())

    # Console progress bars are stderr \r-frame floods — at ~70
    # queries x 3 runs they overflowed the driver's capture budget in
    # r5 and truncated the machine-readable record (BENCH_r05.json
    # "parsed": null). Bench output discipline: progress bars off,
    # stdout carries EXACTLY one line — the JSON.
    spark = get_session(
        "cubert-bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    queries = all_queries()
    warmup(spark, sf_dir)

    # n>=2 timed repeats per query; report the per-query MIN (the
    # reproducible capability of the code on this box) and keep the
    # raw runs + median so round-over-round deltas can be judged
    # against the observed spread instead of single-shot weather.
    # No module-global caches exist any more (the r04 shingle cache
    # was removed after A/B showed recompute beats it), so runs are
    # order-independent by construction.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    raw_runs: dict[str, list[float]] = {}
    # Janino compilations during each row's timed runs: a steady
    # session compiles nothing, so a non-zero row regenerates code
    compiles: dict[str, int] = {}

    def _timed_runs(name: str, n: int) -> list[float]:
        fn = queries.get(name) or _extra[name]
        c0 = codegen_compiles(spark)
        runs = [timed_run(spark, fn, sf_dir) for _ in range(n)]
        compiles[name] = compiles.get(name, 0) + codegen_compiles(spark) - c0
        return runs

    def _set_row(name: str, runs: list[float]) -> None:
        raw_runs[name] = runs
        timings[name] = min(runs)
        srt = sorted(runs)
        mid = len(srt) // 2
        medians[name] = round(
            srt[mid] if len(srt) % 2 else (srt[mid - 1] + srt[mid]) / 2, 3
        )

    for name in BENCH_QUERIES:
        _set_row(name, _timed_runs(name, n_runs))
        print(
            f"# {name}: min={timings[name]:.3f}s runs={raw_runs[name]}",
            file=sys.stderr,
        )

    # --- quietness gate (r11 VERDICT task 3) -------------------------
    # The r11 official medians were committed from a loaded pass
    # (every heavy row's run[0] was the max) and poisoned the next
    # round's regression baseline. run[0]-high alone is NOT a load
    # signal — per-query codegen warmup makes run[0] the max on ~90%
    # of rows in every committed round — so the gate compares each
    # row's fresh min against the PREVIOUS committed min + spread and
    # re-measures the regressed rows at the END of the suite (warmest
    # JVM, transient load most likely passed). Rows still regressed
    # after the requeue are recorded; a pass with more than
    # max(4, 15% of shared rows) of them is stamped quiet_pass=false
    # so nobody treats its medians as the official baseline.
    requeued: list[str] = []
    still_regressed: list[str] = []
    anchor_violations: list[str] = []
    # None = the gate never ran (off-SF run, or no readable committed
    # baseline) — recording true there would make an UNVERIFIED pass
    # indistinguishable from a gate-verified quiet one
    quiet_pass: bool | None = None
    _rebase = os.environ.get("SPARK_GRAFT_REBASE_ANCHORS") == "1"
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    anchors_path = os.path.join(repo_dir, "BENCH_ANCHORS.json")
    anchors: dict = {}
    if sf_str == "0.1" and os.path.exists(anchors_path):
        try:
            with open(anchors_path) as f:
                anchors = json.load(f).get("anchors", {})
        except (OSError, ValueError) as e:
            print(
                f"WARNING: {anchors_path} unreadable ({e}); anchor "
                "gate disabled for this run",
                file=sys.stderr,
            )
    prev_path = os.path.join(os.path.dirname(__file__), "BENCH_DETAIL.json")
    prev = None
    if sf_str == "0.1" and os.path.exists(prev_path):
        try:
            with open(prev_path) as f:
                prev = json.load(f)
        except (OSError, ValueError) as e:
            # a corrupt baseline silently disables the quietness gate
            # (quiet_pass stays None) — make that visible in the log
            print(
                f"WARNING: committed baseline {prev_path} exists but "
                f"could not be read ({e}); quietness gate DISABLED "
                "for this run",
                file=sys.stderr,
            )
            prev = None
    if prev and isinstance(prev.get("queries"), dict):
        pq, pr = prev["queries"], prev.get("runs", {})
        shared = [n for n in BENCH_QUERIES if n in pq]
        requeued = sorted(
            set(_regressed_rows(timings, pq, pr, shared))
            | set(_anchor_regressed(medians, anchors, BENCH_QUERIES)),
            key=BENCH_QUERIES.index,
        )
        for name in requeued:
            extra_runs = _timed_runs(name, 2)
            _set_row(name, raw_runs[name] + extra_runs)
            print(
                f"# requeue {name}: min={timings[name]:.3f}s "
                f"extra_runs={extra_runs}",
                file=sys.stderr,
            )
        still_regressed = _regressed_rows(
            timings, pq, pr, [n for n in requeued if n in pq]
        )
        anchor_violations = _anchor_regressed(medians, anchors, requeued)
        # r16: under SPARK_GRAFT_REBASE_ANCHORS=1 the anchor clause is
        # excluded from the quiet verdict — the flag's whole purpose is
        # a NAMED environment change (recorded in SCALE.md) that makes
        # the pinned anchors inapplicable, and before this fix the
        # violations they produced gated the very rebase meant to
        # replace them (unreachable escape hatch). The prev-spread
        # clause still applies, so a genuinely loaded pass cannot
        # launder itself via the flag.
        quiet_pass = len(still_regressed) <= max(
            4, round(0.15 * len(shared))
        ) and (_rebase or not anchor_violations)
        if not quiet_pass:
            print(
                f"# LOADED PASS: {len(still_regressed)}/{len(shared)} rows "
                f"regressed beyond prior spread after requeue "
                f"({still_regressed}); anchor violations (median > "
                f"{ANCHOR_FACTOR}x best-ever quiet median): "
                f"{anchor_violations} — do NOT commit this "
                "BENCH_DETAIL.json as the official medians; re-run on "
                "a quiet machine (or, for a named environment change "
                "recorded in SCALE.md, re-pin anchors with "
                "SPARK_GRAFT_REBASE_ANCHORS=1).",
                file=sys.stderr,
            )

    total = round(sum(timings.values()), 3)
    # Per-query relative spread (max-min)/min from the raw runs: the
    # round-over-round regression rule (SCALE.md) flags a query only
    # when the new min exceeds the old min + its observed spread, so
    # single-shot box weather doesn't read as a code regression.
    spreads = {
        n: round((max(r) - min(r)) / min(r), 3) if min(r) > 0 else 0.0
        for n, r in raw_runs.items()
    }
    # stdout carries ONE compact line with per-query mins only: the
    # driver's capture budget is ~2 KB and the full medians+runs
    # payload (~6.4 KB at 80 queries) truncated the official record in
    # r5 AND r6 ("parsed": null). v6 (r12): the stdout map carries the
    # DECLARED rows only — at 93 rows the r11 line degraded to
    # integer seconds, useless for per-query deltas; dropping the
    # _EXTRA/folded twins (whose mins live in BENCH_DETAIL.json, and
    # whose time still counts in "value") buys the 1-decimal rung
    # back with ~400 bytes of margin. Everything else goes to
    # BENCH_DETAIL.json next to this script (committed per-round).
    rot = _rotation_index(repo_dir)
    declared_order = [n for n in BENCH_QUERIES if n in queries]
    stdout_rows = _rotate_stdout_rows(
        {n: v for n, v in timings.items() if n in queries},
        declared_order,
        rot,
    )
    host = host_fingerprint()
    payload = _stdout_payload(
        stdout_rows,
        total,
        sf,
        rot=rot,
        quiet=quiet_pass,
        pyloop_ds=int(round(host["pyloop10m_sec"] * 10)),
        anchor_rebase=_rebase,
    )
    detail = {
        "metric": "bench_total_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "medians": medians,
        "runs": raw_runs,
        "spreads": spreads,
        "codegen_compiles": compiles,
        "n_runs_per_query": n_runs,
        "requeued": requeued,
        "still_regressed": still_regressed,
        "anchor_violations": anchor_violations,
        "quiet_pass": quiet_pass,
        "anchor_rebase": _rebase,
        "stdout_rotation": rot,
        "host": host,
        "bench_schema_version": 8,
        "sf": sf,
    }
    # Anchor maintenance: ONLY a gate-verified quiet official pass may
    # touch BENCH_ANCHORS.json, and existing anchors only move DOWN
    # (best-ever quiet median). SPARK_GRAFT_REBASE_ANCHORS=1 re-pins
    # every anchor to THIS pass's medians — for a named environment
    # change recorded in SCALE.md (e.g. the r14->r15 host-placement
    # slowdown), never for routine runs.
    if sf_str == "0.1" and quiet_pass:
        if _rebase:
            new_anchors = {n: medians[n] for n in BENCH_QUERIES if n in medians}
            print(
                "# ANCHOR REBASE: re-pinned all anchors to this pass "
                "(record the named cause in SCALE.md)",
                file=sys.stderr,
            )
        else:
            new_anchors = _updated_anchors(medians, anchors, BENCH_QUERIES)
        try:
            with open(anchors_path, "w") as f:
                json.dump(
                    {
                        "note": "best-ever QUIET official medians per row; "
                        "written only by gate-verified quiet sf0.1 passes; "
                        "existing entries only decrease (see bench.py "
                        "_updated_anchors / ANCHOR_FACTOR)",
                        "anchors": new_anchors,
                    },
                    f,
                    indent=1,
                    sort_keys=True,
                )
                f.write("\n")
        except OSError as e:
            print(f"# BENCH_ANCHORS.json write failed: {e}", file=sys.stderr)
    # Only the recorded sf0.1 protocol — AND only a pass the quietness
    # gate did not stamp loaded — overwrites the committed
    # BENCH_DETAIL.json: a quick smoke at another SF used to clobber
    # the round's official medians/spreads (bit us in r11), and a
    # loaded pass overwriting the baseline would poison the very
    # record the gate compares against (then a follow-up re-run would
    # trivially pass against the inflated mins). Off-SF runs land in a
    # suffixed file; loaded passes in BENCH_DETAIL_LOADED.json. String
    # compare (not the parsed float) so regex drift can't misroute
    # the official run.
    if sf_str != "0.1":
        detail_name = f"BENCH_DETAIL_sf{sf}.json"
    elif quiet_pass is False:
        detail_name = "BENCH_DETAIL_LOADED.json"
    else:
        detail_name = "BENCH_DETAIL.json"
    try:
        with open(os.path.join(os.path.dirname(__file__), detail_name), "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as e:
        print(f"# {detail_name} write failed: {e}", file=sys.stderr)
    print(payload, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
