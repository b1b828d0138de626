"""Capture .explain('formatted') for every registered query into
plans/$SPARK_GRAFT_PLAN_DIR/<query>_<tag>.txt (default r13).

Mostly planning only: building a registered query's DataFrame runs no
job, with these exceptions.  ``dedup_funnel_summary`` (three driver
actions) and ``copurchase_triangles`` run their Spark jobs while the
DataFrame is built and return a literal row, so capturing them executes
the full computation, and their captured plan is that literal
projection, not the work behind it.  ``localCheckpoint(eager=False)``
is not lazy under AQE either: taking it runs every shuffle-map stage
below the checkpoint at once, and only its final result stage waits
for an action.  So every builder that takes one over a shuffle runs
Spark jobs while its DataFrame is built: the banded near-dup kernel
``llm.dedup.band_candidates`` (every MinHash/SimHash query and the
admission stream), ``llm.multimodal.ahash_near_dup`` (the image and
audio fingerprint pairs), the k-means loops of ``llm.similarity``
(``kmeans_lloyd``, ``kmeans_multilevel``: the
SemDeDup, IVF and cluster queries, one round after another), the
PageRank loop of ``plans.quality`` (``copurchase_pagerank``) and the
unigram training loop (``unigram_vocab``).

Usage: python capture_plans.py <tag> [name1,name2,...]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import __spark_entry__ as entry  # noqa: E402
from spotify_streaming_etl_pipeline_spark.session import get_spark  # noqa: E402

tag = sys.argv[1] if len(sys.argv) > 1 else "before"
subset = None
if len(sys.argv) > 2:
    subset = {s.strip() for s in sys.argv[2].split(",") if s.strip()}

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
out_dir = (
    Path(__file__).resolve().parent
    / "plans"
    / os.environ.get("SPARK_GRAFT_PLAN_DIR", "r13")
)
out_dir.mkdir(parents=True, exist_ok=True)

spark = get_spark("capture-plans")
spark.sparkContext.setLogLevel("ERROR")

qs = entry.queries()
if subset:
    qs = {k: v for k, v in qs.items() if k in subset}

failed = {}
for name in sorted(qs):
    try:
        df = qs[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    except Exception as exc:  # noqa: BLE001 — capture harness boundary
        failed[name] = f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"
        continue
    (out_dir / f"{name}_{tag}.txt").write_text(txt)
    print(name, flush=True)

if failed:
    print("FAILED:", failed)
spark.stop()
