#!/usr/bin/env python
"""Adversarial hot-host skew bench for the frontier fetch stage
(verdict r3 item 7).

Wave shape: W URLs, HOT_FRAC of them on ONE host (the reference's
seed list has exactly this shape — hundreds of policy URLs per big
platform host), the rest uniform over N_COLD hosts.  Per-URL work is
the real parse path (deterministic ~3 KB page -> core.spans extract_doc
+ href scan), identical for every URL so partition time == load.

Variants:
  salt_host     pmod(hash(host, round_id), P): one partition per host
  salt_url      pmod(hash(host, round_id, url), P): per-URL spread
  salt_url_raw  hash(host, round_id, url) with no pmod: the key the
                frontier's _salt_by_host uses

Reports wall seconds + straggler ratio (max partition sec / mean) per
variant, interleaved best-of-N, meant to run under `taskset -c 0-7`.
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pandas as pd  # noqa: E402
from pyspark import TaskContext  # noqa: E402
from pyspark.sql import SparkSession, functions as F  # noqa: E402

W = int(os.environ.get("SKEW_URLS", "40000"))
HOT_FRAC = float(os.environ.get("SKEW_HOT_FRAC", "0.3"))
N_COLD = int(os.environ.get("SKEW_COLD_HOSTS", "7000"))
CPUS = int(os.environ.get("SKEW_CPUS", "8"))
PARTS = int(os.environ.get("SKEW_PARTS", str(CPUS * 2)))
REPEATS = int(os.environ.get("SKEW_REPEATS", "3"))
ROUND_ID = 7


def urls_df(spark):
    n_hot = int(W * HOT_FRAC)
    rows = [(f"https://bigplatform.com/policy/{i}",) for i in range(n_hot)] + [
        (f"https://cold{i % N_COLD:05d}.com/privacy/{i}",)
        for i in range(W - n_hot)
    ]
    df = spark.createDataFrame(rows, "url string")
    import tempfile

    path = tempfile.mkdtemp(prefix="pcpt-skew-") + "/urls"
    df.repartition(PARTS).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def work(batches):
    from privacy_crawler_parser_tokenizer_spark.core.spans import extract_doc

    tc = TaskContext.get()
    t0 = time.monotonic()
    n = 0
    for pdf in batches:
        for u in pdf["url"]:
            h = abs(hash(u)) % 97
            html = (
                "<html><body>"
                + "".join(
                    f"<p>privacy policy section {j} of page {h} with data "
                    f"terms and <a href='/l{j}'>link</a></p>"
                    for j in range(30)
                )
                + "</body></html>"
            )
            spans, text = extract_doc(html)
            n += 1 + len([s for s in spans if s.kind == "text"]) * 0
    yield pd.DataFrame(
        [{"pid": tc.partitionId(), "n": n, "sec": time.monotonic() - t0}]
    )


def partitioners():
    from privacy_crawler_parser_tokenizer_spark.functions.text import host_of_col

    host = host_of_col(F.col("url"))
    hkey = F.pmod(F.hash(host, F.lit(ROUND_ID)), F.lit(PARTS))
    ukey = F.pmod(F.hash(host, F.lit(ROUND_ID), F.col("url")), F.lit(PARTS))
    raw = F.hash(host, F.lit(ROUND_ID), F.col("url"))
    return {
        "salt_host": lambda df: df.repartition(PARTS, hkey),
        "salt_url": lambda df: df.repartition(PARTS, ukey),
        "salt_url_raw": lambda df: df.repartition(PARTS, raw),
    }


def main():
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .config("spark.sql.shuffle.partitions", str(PARTS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    df = urls_df(spark)
    out_schema = "pid int, n long, sec double"
    results = {k: [] for k in partitioners()}
    for rep in range(REPEATS + 1):  # first pass = warmup
        for name, part in partitioners().items():
            t0 = time.monotonic()
            parts = part(df).mapInPandas(work, schema=out_schema).collect()
            wall = time.monotonic() - t0
            if rep == 0:
                continue
            secs = [r["sec"] for r in parts]
            results[name].append(
                {
                    "wall": round(wall, 2),
                    "n_parts": len(secs),
                    "max_part": round(max(secs), 2),
                    "mean_part": round(sum(secs) / len(secs), 3),
                    "straggler_ratio": round(max(secs) / (sum(secs) / len(secs)), 2),
                    "max_rows": max(r["n"] for r in parts),
                }
            )
    summary = {}
    for name, rs in results.items():
        best = min(rs, key=lambda r: r["wall"])
        summary[name] = best
        print(name, json.dumps(rs))
    print(
        json.dumps(
            {
                "job": "hostskew-fetch",
                "urls": W,
                "hot_frac": HOT_FRAC,
                "cpus": CPUS,
                "parts": PARTS,
                "best": summary,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
