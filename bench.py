"""Benchmark harness: runs the headline catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]. Prints two JSON lines: a cold-run
transparency line first, then the contract line (min-of-N timings,
regression flags, loadavg) LAST so a stdout tail-truncating collector
always keeps it.

Usage: `python bench.py` runs every catalog query and writes the full
result to BENCH_LOCAL_FULL.json; `python bench.py q1 q2 ...` runs only
the named queries, same min-of-N and contract line, for a before/after
A/B, and leaves BENCH_LOCAL_FULL.json alone.

Each query is materialized through the noop sink so every column is
computed (a bare .count() would let Catalyst prune the projection and
understate the work).

Methodology (r3): every query executes N times and reports the MIN.
First executions carry 0.5-2s of one-time driver cost (janino codegen
of the fresh plan, AQE re-optimization) with +/-1s run-to-run noise —
at sf0.1 that noise is the same order as many queries' total work and
used to flag a different random query every round, while at the 100 TB
design point it is irrelevant against steady-state throughput, which
is what the min measures. `queries_first_exec` keeps the cold numbers
for transparency; caches are cleared between executions so
persist()-based queries cannot hide work in the warm pass.

Hardening (r4): N raised 2 -> 3 — r3's gate flagged two phantom
regressions (3.78x, 2.12x) caused by BURSTY host contention landing on
whichever query was in flight; a one-burst hit corrupts at most one of
three runs, so the min survives it. The run also records
os.getloadavg() at process start (external load — our own Spark work
hasn't started yet) and marks any regression flags "suspect" when the
host was already >25% loaded, so a flag raised on a contended host is
visibly untrustworthy instead of crying wolf.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from syslog_ng_spark.catalog import QUERIES  # noqa: E402
from syslog_ng_spark.session import DEFAULT_CPUS, get_session  # noqa: E402

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q_top_customer_orders",
    "filter_severity",
    "syslog_parse_3164",
    "syslog_parse_5424",
    "csv_parse",
    "kv_parse",
    "json_parse_props",
    "pattern_classify",
    "rewrite_subst",
    "grouping_by_sessions",
    "stats_hourly",
    "template_format_json",
    "macro_isodate",
    "enrich_contextual",
    "dedup_exact",
    "dedup_jaccard",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_quality",
    "token_count",
    "lang_id",
    "q4_priority_exists",
    "q14_promo_revenue",
    "q18_large_orders",
    "stats_rollup",
    "percentiles_by_type",
    "window_calculus",
    "embed_neardup",
    "simhash_neardup",
    "xml_parse",
    "token_top20",
    "kv_parse_quoted",
    "context_grep",
    "multimodal_features",
    "ann_lsh_topk",
    "pattern_mine",
    "secure_log_chain",
    "format_cef",
    "template_stardate",
    "template_array_calc",
    "tfidf_top_terms",
    "pii_redact",
    "doc_chunk",
    "deterministic_sample",
    "q12_shipmode_priority",
    "q19_disjunctive_join",
    "q13_order_histogram",
    "q17_small_quantity",
    "q7_nation_volume",
    "q9_product_profit",
    "q8_market_share",
    "repetition_ratio",
    "q11_important_suppliers",
    "q22_lost_customers",
    "template_compile",
    "patterndb_parse",
    "multiline_reassemble",
    "geoip_range_enrich",
    "format_json_scoped",
    "ann_ivf_topk",
    "q15_top_supplier",
    "q20_dominant_suppliers",
    "q21_waiting_suppliers",
    "q2_min_cost_supplier",
    "suppress_repeats",
    "stats_sliding",
    "gopher_rules",
    "multimodal_audio",
    "dup_clusters",
    "dup_clusters_capped",
    "decontaminate",
    "oov_rate",
    "patterndb_actions",
    "patterndb_create_context",
    "csv_dialect_parse",
    "csv_greedy_parse",
    "tags_parse",
    "simhash_neardup_scale",
    "fuzzy_dedup_pipeline",
    "asof_join_orders",
    "funnel_stages",
    "bm25_search",
    "dedup_minhash_lsh_capped",
    "stratified_sample",
    "sequence_pack",
    "semantic_dedup",
    "temperature_sample",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "unigram_logprob",
    "dedup_containment",
    "dedup_incremental",
    "text_ann_topk",
    "filter_netmask6",
    "audit_parse",
    "journal_parse",
    "ann_ivf_scan",
    "ann_pq_scan",
    "ann_ivfpq_scan",
    "semantic_dedup_scan",
    "apache_accesslog_parse",
    "cisco_parse",
    "iptables_parse",
    "sudo_parse",
    "ewmm_parse",
    "app_detect",
    "repeated_passages",
    "cee_parse",
    "template_numagg",
    "dsir_logweight",
    "gumbel_sample",
    "fortigate_parse",
    "checkpoint_parse",
    "osquery_parse",
    "panos_parse",
    "websense_parse",
    "snmptrapd_parse",
    "netskope_parse",
    "junos_parse",
    "solaris_msgid_parse",
    "windows_eventlog_parse",
    "format_gelf",
    "format_cim",
    "line_dedup",
    "url_normalize",
    "domain_rollup",
    "quality_quantile_select",
    "filter_match_store",
    "filter_cmp",
    "bigram_logprob",
    "vocab_growth",
    "semantic_decontaminate",
    "hard_negatives",
    "nodejs_parse",
    "format_collectd",
    "global_shuffle",
    "bpe_train_merges",
    "bpe_segment",
    "bpe_segment_pandas",
    "quality_quantile_select_approx",
    "hard_negatives_calibrated",
    "cc_mask",
    "cc_hash",
    "mixture_sample",
    "rewrite_group_ops",
    "template_fname_url",
]

# every catalog query is benched: anything registered and not yet in
# the hand-ordered list above is appended mechanically, so bench
# coverage can never drift from the catalog again (the r7 verdict
# found 25 queries invisible to the drift flagger).
BENCH_QUERIES += [q for q in QUERIES if q not in BENCH_QUERIES]


N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))


def cpu_probe() -> float:
    """Fixed single-core work (sha256 over 256 MiB) timed before Spark
    starts: a host-speed constant for the contract line. Comparing a
    run's probe to the baseline's probe separates host slowdown from
    code regressions NUMERICALLY — r8→r10 drift (1.02→1.26) had to be
    adjudicated by cross-round argument; probe_ratio settles it."""
    import hashlib

    buf = b"\xa5" * (1 << 20)
    h = hashlib.sha256()
    t0 = time.perf_counter()
    for _ in range(256):
        h.update(buf)
    h.digest()
    return round(time.perf_counter() - t0, 4)


def main() -> None:
    subset = sys.argv[1:]
    unknown = [q for q in subset if q not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown catalog queries: {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    loadavg_start = os.getloadavg()
    probe = min(cpu_probe() for _ in range(3))  # min-of-3, like the queries
    host_cpus = os.cpu_count() or 1
    spark = get_session("syslog-ng-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers once so timings measure the queries
    QUERIES["q1_pricing_summary"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    first_exec: dict[str, float] = {}
    for name in subset or BENCH_QUERIES:
        runs = []
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
            # dedup/LSH queries persist() intermediates their plans
            # read twice; drop them so the second execution (and the
            # next query) re-does ALL the work
            spark.catalog.clearCache()
        first_exec[name] = runs[0]
        timings[name] = min(runs)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "catalog_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_runs": N_RUNS,
        "loadavg_start": [round(x, 2) for x in loadavg_start],
        # the local[N] parallelism the queries ran with; loadavg is
        # host-wide, so it is read against host_cpus
        "cpus": int(DEFAULT_CPUS),
        "host_cpus": host_cpus,
        "cpu_probe_sec": probe,
    }
    # regression floor: each query is compared against its recorded
    # best-round time (BASELINE_LOCAL.json). Ratios are NORMALIZED by
    # the run's overall drift vs the baseline total first — the host
    # is a shared VM whose absolute speed varies run to run (measured
    # 73s..121s for identical code), and without normalization a slow
    # host flags a different random set of small queries every run. A
    # real regression is a query slower than its floor by >2x MORE
    # than the run as a whole, with >0.5s of absolute excess.
    base_path = Path(__file__).resolve().parent / "BASELINE_LOCAL.json"
    if base_path.exists():
        base = json.loads(base_path.read_text())
        if base.get("sf") == sf:
            shared = [q for q in timings if q in base["queries"]]
            base_total = sum(base["queries"][q] for q in shared) or 1.0
            drift = max(sum(timings[q] for q in shared) / base_total, 1.0)
            out["drift_vs_baseline"] = round(drift, 2)
            # host-speed attribution: probe_ratio ≈ drift means the
            # host's CPU got slower; probe_ratio ≈ 1 with drift >> 1
            # means either the CODE got slower (the flags below
            # localize it) or the host is CONTENDED — the single-core
            # probe cannot see multi-core contention, so read
            # loadavg_start alongside (r11: a load-5 host produced
            # drift 1.39 / probe 1.0 / 10 phantom flags; the quiet
            # rerun was clean)
            if base.get("cpu_probe_sec"):
                out["host_slowdown_vs_baseline"] = round(
                    probe / base["cpu_probe_sec"], 2)
            flagged = {}
            for q in shared:
                b = base["queries"][q]
                t = timings[q]
                if b >= 0.3 and t / (b * drift) > 2 and t - b * drift > 0.5:
                    flagged[q] = round(t / (b * drift), 2)
            out["regressions_vs_baseline"] = flagged
            # a flag raised while the host was already busy BEFORE our
            # Spark work started is contention, not a code regression —
            # say so in the artifact instead of asking the reader to guess
            out["flags_suspect_host_contention"] = bool(flagged) and (
                loadavg_start[0] > 0.25 * host_cpus
            )
    # Line order matters: the driver preserves only the TAIL of stdout
    # (2000 chars as of r10 — BENCH_r09/r10.json both recorded
    # parsed:null because the full 189-query contract line is ~5 KB
    # and only its tail survived). So: the complete result is WRITTEN
    # to BENCH_LOCAL_FULL.json in the repo, the cold-run transparency
    # line goes first on stdout, and the LAST line is a contract line
    # hard-capped under the tail window — headline numbers + the
    # slowest queries that fit, with a pointer to the full file.
    if not subset:
        full = dict(out)
        full["queries_first_exec"] = first_exec
        (Path(__file__).resolve().parent / "BENCH_LOCAL_FULL.json").write_text(
            json.dumps(full, indent=1) + "\n"
        )
    print(
        json.dumps(
            {
                "metric": "catalog_total_wall_first_exec",
                "value": round(sum(first_exec.values()), 3),
                "unit": "sec",
                "note": "cold-run transparency only; the min-of-3 contract line follows",
            }
        )
    )
    contract = _capped_contract(out)
    if subset:
        contract["full_results"] = None  # a subset run leaves the file alone
    print(json.dumps(contract, separators=(",", ":")))


def _capped_contract(out: dict, limit: int = 1900) -> dict:
    """The stdout contract line, guaranteed to fit the collector's
    2000-char tail: all scalar fields, then the slowest queries added
    one at a time while the serialized line stays under `limit`;
    `queries_elided` counts what didn't fit (full dict is in
    BENCH_LOCAL_FULL.json either way)."""
    compact = {k: v for k, v in out.items() if k != "queries"}
    compact["queries"] = {}
    compact["queries_elided"] = 0
    compact["full_results"] = "BENCH_LOCAL_FULL.json"
    ranked = sorted(out["queries"].items(), key=lambda kv: -kv[1])
    for q, t in ranked:
        trial = dict(compact)
        trial["queries"] = {**compact["queries"], q: t}
        trial["queries_elided"] = len(ranked) - len(trial["queries"])
        if len(json.dumps(trial, separators=(",", ":"))) > limit:
            break
        compact = trial
    compact["queries_elided"] = len(ranked) - len(compact["queries"])
    return compact


if __name__ == "__main__":
    main()
