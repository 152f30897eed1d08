"""``query_board``: registered queries over seeded board tables.

Set-up builds each query once and checks it: the result is collected
and compared with its DuckDB SQL by ``oracle.compare`` (queries without
an oracle are collected as a rows-only check). This first pass is the
cold one — JVM JIT, Janino codegen, Python worker start — and counts as
set-up. Then warm passes run until ``seconds`` have passed (at least
four): each query is built fresh and written to the ``noop`` sink and
its build + run time is recorded.
"""

from __future__ import annotations

import os
import time

from . import gen, measure

# The board's own regression set: cheap queries of every registered
# module but three, plus the queries ROADMAP.md names as open performance
# items (pivot_distinct_summary, function_showcase,
# lorawan_security_suite, the ChirpStack pipeline with its protobuf
# fallback). The cheap queries carry the per-query fixed cost that
# dominates the board at this scale and give the tail percentile enough
# samples. The full 50-query board does not fit the run budget: its
# cold pass alone takes about 60 s on a 4-core host. llm.components,
# llm.pipeline and llm.text hold only heavy queries (about 2-2.5 s cold,
# 1-1.8 s warm each) and are left out.
BOARD_QUERIES = (
    "q1_pricing_summary",            # operators.relational
    "pivot_distinct_summary",        # operators.relational
    "function_showcase",             # operators.relational
    "topk_global_orders",            # operators.relational
    "scalar_envelope_chain",         # operators.scalar
    "device_map_enrich",             # operators.stateful
    "sessionize_gap30m",             # operators.stateful
    "status_change_detection",       # operators.stateful
    "minhash_lsh_buckets",           # llm.dedup
    "ivf_label_topk",                # llm.similarity
    "multimodal_binary_profile",     # llm.multimodal
    "pii_redaction_profile",         # llm.curate
    "lorawan_security_suite",        # functions.lorawan_queries
    "lorawan_field_extract",         # functions.lorawan_queries
    "pipeline_chirpstack_gateway",   # streaming.pipeline_queries
    "pipeline_mqtt_forwarder",       # streaming.pipeline_queries
)


def module_of(spec) -> str:
    mod = getattr(spec.build, "__wrapped__", spec.build).__module__
    return mod.replace("rolaguard_data_collectors_spark.", "")


def cold_pass(spark, specs: dict, sf_dir: str) -> tuple[float, int, list]:
    """Build, collect and oracle-check every query once.
    Returns (seconds, failures, failure notes)."""
    from rolaguard_data_collectors_spark.oracle import compare, duckdb_connection

    con = duckdb_connection(sf_dir)
    failed, notes = 0, []
    t0 = time.perf_counter()
    for name, spec in specs.items():
        try:
            df = spec.build(spark, sf_dir)
            if spec.oracle is None:
                df.collect()
                continue
            res = compare(name, df, spec.oracle, con)
            if not res.exact_match:
                failed += 1
                notes.append(f"{name}: oracle mismatch: {res.detail[:200]}")
        except Exception as exc:  # a failing query must not hide the rest
            failed += 1
            notes.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
    con.close()
    return time.perf_counter() - t0, failed, notes


MIN_PASSES = 4


def warm_passes(spark, specs: dict, sf_dir: str, seconds: float) -> dict:
    """Warm passes until ``seconds`` have passed (at least MIN_PASSES).
    Returns per-pass lists of (name, module, build_s, run_s) and the
    failures."""
    passes, failed, attempted = [], 0, 0
    t_end = time.perf_counter() + seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
        rows = []
        for name, spec in specs.items():
            attempted += 1
            try:
                t0 = time.perf_counter()
                df = spec.build(spark, sf_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                rows.append((name, module_of(spec), t1 - t0, t2 - t1))
            except Exception:
                failed += 1
        passes.append(rows)
    return {"passes": passes, "failed": failed, "attempted": attempted}


def oracle_seconds(specs: dict, sf_dir: str) -> float:
    """DuckDB wall time of every oracle query, as a reference."""
    from rolaguard_data_collectors_spark.oracle import duckdb_connection

    con = duckdb_connection(sf_dir)
    t0 = time.perf_counter()
    for spec in specs.values():
        if spec.oracle is not None:
            con.execute(spec.oracle).fetchall()
    took = time.perf_counter() - t0
    con.close()
    return took


def select(all_specs: dict) -> dict:
    missing = [q for q in BOARD_QUERIES if q not in all_specs]
    if missing:
        raise KeyError(f"board queries not registered: {missing}")
    return {q: all_specs[q] for q in BOARD_QUERIES}


def run_board(spark, work: str, seed: int, seconds: int, trace: bool, log) -> dict:
    from rolaguard_data_collectors_spark.registry import collect_all

    sf_dir = os.path.join(work, "board")
    gen.board_tables(sf_dir, seed)
    specs = select(collect_all())
    warmup_s, cold_failed, notes = cold_pass(spark, specs, sf_dir)
    log(f"cold pass {warmup_s:.2f}s")
    t_warm_ms = time.time() * 1000.0
    w = warm_passes(spark, specs, sf_dir, seconds)
    log(f"warm passes {len(w['passes'])}")
    # The repository's min-of-N convention: a noise burst lands on one run
    # of a query, not on all. A latency sample is the faster of a query's
    # runs in two consecutive passes; work_per_s uses each query's
    # fastest run over all passes.
    runs: dict = {}
    for p in w["passes"]:
        for name, _, b, r in p:
            runs.setdefault(name, []).append(b + r)
    samples = [min(ts[i:i + 2]) * 1000.0
               for ts in runs.values() for i in range(0, len(ts) - 1, 2)]
    board_s = sum(min(ts) for ts in runs.values())
    res = {
        "warmup_s": warmup_s,
        # every warm run raised: no query was measured
        "work_per_s": len(runs) / board_s if board_s > 0 else 0.0,
        "latency_samples": samples,
        "attempted": len(specs) + w["attempted"],
        "failed": cold_failed + w["failed"],
        "correct": cold_failed == 0,
        "notes": notes,
        "info": {"queries": len(specs), "passes": len(w["passes"]), "board_s": board_s},
    }
    if trace:
        # per module: median over passes of the pass's build and run sums
        sums: dict = {}
        for p in w["passes"]:
            per: dict = {}
            for _, mod, b, r in p:
                acc = per.setdefault(mod, [0.0, 0.0])
                acc[0] += b
                acc[1] += r
            for mod, (b, r) in per.items():
                sums.setdefault(mod, ([], []))
                sums[mod][0].append(b)
                sums[mod][1].append(r)
        layers = {}
        for mod, (bs, rs) in sums.items():
            layers[f"board.{mod}.build_s"] = measure.median(bs)
            layers[f"board.{mod}.run_s"] = measure.median(rs)
        n_pass = len(w["passes"])
        split = measure.event_log_split(os.path.join(work, "eventlog"), since_ms=t_warm_ms)
        for k, v in split.items():
            layers[f"board.spark.{k}"] = v / n_pass
        layers["board.oracle_s"] = oracle_seconds(specs, sf_dir)
        layers["trace.work_per_s"] = res["work_per_s"]
        layers["trace.latency_p50_ms"] = measure.median(res["latency_samples"])
        res["layers"] = layers
    return res
