"""Optimization-round measurement probe (guide §1).

For each named query:
- captures ``df.explain('formatted')`` into plans/<round>/<query>_<tag>.txt
  (the judge-checkable plan evidence), plus a one-line plan-shape summary
  (Exchange count, join strategies, Python-eval nodes, PushedFilters);
- times the query in isolation with the NOOP sink (computes every column
  of every row, discards the result — guide §1.4) best-of-N, interleaved
  with a calibration probe so a contended VM window is visible.

This is a measurement tool only: the graded bench protocol stays bench.py's
(collect(), interleaved passes). The noop numbers here isolate computation
from the collect/driver-render cost for optimization decisions.

Usage:
    python tools/perf_probe.py [--tag before|after] [--runs N] [--plans-only]
        [--sf-dir DIR] [query ...]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import pathlib
import re
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from n5_dask_spark.registry import load_all
from n5_dask_spark.session import get_spark

DEFAULT_QUERIES = [
    # bench.py HEADLINE
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "join_asof",
    "window_row_number",
    "events_tumbling_window",
    "events_session_window",
    "dedup_exact",
    "dedup_minhash_lsh",
    "knn_bruteforce_cosine",
    "knn_signbucket_lsh",
    "text_tf_top_terms",
    "multimodal_feature_extract",
    "n5_rechunk_stats",
    "n5_roundtrip_zprofile",
    "pipeline_sequence_packing",
    # bench.py PIPELINES
    "tiff_roundtrip_zprofile",
    "dedup_connected_clusters",
    "dedup_cc_star",
]


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_summary(txt: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", txt.split("===")[0])),
        "sorts": len(re.findall(r"^\s*[:+\-*( ]*Sort\b", txt, re.M)),
        "joins": sorted(set(re.findall(r"(\w*Join\w*)", txt.split("===")[0]))),
        "python": sorted(
            set(re.findall(r"(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas|FlatMapGroupsInArrow)", txt))
        ),
        "pushed_filters": len(re.findall(r"PushedFilters: \[[^\]]", txt)),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", default=None)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans-only", action="store_true")
    # no default round on purpose (r15): a stale default silently
    # overwrites a PREVIOUS round's committed plan evidence
    ap.add_argument("--round", required=True)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()
    names = args.queries or DEFAULT_QUERIES

    plans_dir = pathlib.Path(__file__).resolve().parent.parent / "plans" / args.round
    plans_dir.mkdir(parents=True, exist_ok=True)

    spark = get_spark(
        "n5_dask_spark-perf-probe",
        extra_conf={"spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    results: dict[str, dict] = {}
    # warm the worker pool + every plan once (bench.py's protocol)
    if not args.plans_only:
        spark.range(256).repartition(32).mapInPandas(lambda it: it, "id long").collect()

    for name in names:
        fn = registry[name].fn
        df = fn(spark, args.sf_dir)
        txt = plan_text(df)
        (plans_dir / f"{name}_{args.tag}.txt").write_text(txt)
        info: dict = {"plan": plan_summary(txt)}
        if not args.plans_only:
            spark.sparkContext.setJobDescription(f"perfprobe:{name}:warm")
            noop(fn(spark, args.sf_dir))
            samples_noop, samples_collect = [], []
            for _ in range(args.runs):
                d = fn(spark, args.sf_dir)
                spark.sparkContext.setJobDescription(f"perfprobe:{name}:noop")
                t0 = time.perf_counter()
                noop(d)
                samples_noop.append(time.perf_counter() - t0)
                d = fn(spark, args.sf_dir)
                spark.sparkContext.setJobDescription(f"perfprobe:{name}:collect")
                t0 = time.perf_counter()
                d.collect()
                samples_collect.append(time.perf_counter() - t0)
            info["noop_best"] = round(min(samples_noop), 3)
            info["collect_best"] = round(min(samples_collect), 3)
            info["noop_all"] = [round(s, 3) for s in samples_noop]
            info["collect_all"] = [round(s, 3) for s in samples_collect]
        results[name] = info
        print(json.dumps({name: info}), flush=True)

    print(json.dumps({"probe_results": results}))


if __name__ == "__main__":
    main()
