#!/usr/bin/env python
"""Full-registry oracle sweep at an arbitrary scale factor.

The driver gate and the local suite compare at sf0.01; this reproducer
runs EVERY oracle-paired spec (both registries) against DuckDB at the
given sf_dir — the sweep that caught the unpinned-repartitionByRange bug
at r11 and re-proves the correlated-series oracle rewrites at sf0.1.
The sf0.01-PINNED oracles (fit literals derive from the sf0.01 parquet:
the IVF trio + dsir + unigram) are excluded by construction — their
at-scale proof is the refit path (scripts/ivf_refit_proof.py).

Usage: python scripts/oracle_sweep.py [sf_dir] [name,name,...]
Prints one line per query; exits nonzero on any mismatch.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"
))

from retail_aws_etl_pipeline_spark.plans import all_specs  # noqa: E402
from retail_aws_etl_pipeline_spark.session import get_spark  # noqa: E402
from oracle import compare  # noqa: E402

#: oracle literals fitted from the sf0.01 parquet — compare is only valid
#: there; the refit scripts carry their at-scale proof.
SF001_PINNED = {
    "ann_topk_ivf_indexed",
    "bitext_margin_pairs_ivf",
    "ann_recall_sweep",
    "dsir_selected_docs",
    "unigram_lm_report",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    spark = get_spark(app_name="oracle_sweep")
    spark.sparkContext.setLogLevel("ERROR")

    failed, skipped, n_ok = [], [], 0
    for name, spec in sorted(all_specs().items()):
        if only is not None and name not in only:
            continue
        if spec.oracle is None:
            continue
        if name in SF001_PINNED:
            skipped.append(name)
            continue
        t0 = time.perf_counter()
        try:
            r = compare(spec.spark_fn(spark, sf_dir), spec.oracle, sf_dir)
        except Exception as ex:  # noqa: BLE001 - sweep must report, not die
            print(f"ERR  {name}: {str(ex)[:200]}", flush=True)
            failed.append(name)
            continue
        wall = time.perf_counter() - t0
        if r["ok"]:
            n_ok += 1
            print(f"OK   {name}: {wall:.2f} s", flush=True)
        else:
            failed.append(name)
            print(
                f"FAIL {name}: {({k: v for k, v in r.items() if k != 'first_diffs'})} "
                f"{r.get('first_diffs')}",
                flush=True,
            )
    print(f"sweep @ {sf_dir}: {n_ok} OK, {len(failed)} failed, "
          f"{len(skipped)} sf0.01-pinned skipped ({sorted(skipped)})")
    if failed:
        print("FAILED:", sorted(failed))
        sys.exit(1)


if __name__ == "__main__":
    main()
