"""One timed extraction run at a given parallelism level — helper for
run_scaling.py.  Prints one JSON line {cpus, n_docs, sec, docs_per_sec}.

Fairness controls: the input pages table is pre-materialized parquet
(passed in), shuffle partitioning is FIXED (64) at both levels so both runs
schedule identical tasks — only the number of concurrent task slots
differs, which is exactly the N vs 4N executor question."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from image_pdf_ocr_suite_spark import ExtractConfig, extract_pages  # noqa: E402
from image_pdf_ocr_suite_spark.session import build_session  # noqa: E402


def main(cpus: int, pages_path: str) -> None:
    spark = build_session(app=f"scaling-{cpus}", master=f"local[{cpus}]",
                          shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    pages = spark.read.parquet(pages_path)
    n_docs = pages.count()
    cfg = ExtractConfig()

    # warmup: touch EVERY worker slot (python process spinup + imports are
    # ~0.5 s each and must not land inside the timed window)
    warm = extract_pages(pages.sample(0.08, seed=1).repartition(cpus * 2),
                         cfg, run_id="warm")
    warm.text.write.format("noop").mode("overwrite").save()

    t0 = time.perf_counter()
    res = extract_pages(pages, cfg, run_id=f"scale-{cpus}")
    res.text.write.format("noop").mode("overwrite").save()
    sec = time.perf_counter() - t0

    print(json.dumps({"cpus": cpus, "n_docs": n_docs, "sec": round(sec, 3),
                      "docs_per_sec": round(n_docs / sec, 2)}))
    spark.stop()


if __name__ == "__main__":
    main(int(sys.argv[1]), sys.argv[2])
