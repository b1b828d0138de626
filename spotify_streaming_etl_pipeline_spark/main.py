"""CLI entry point — the engine's analogue of the reference's
``python scripts/main.py`` (reference scripts/main.py:5-10 +
config/logging_config.py): set up logging, build the session, run the
end-to-end batch pipeline.

    python -m spotify_streaming_etl_pipeline_spark.main \\
        --raw-dir data/raw --warehouse-dir warehouse

API enrichment needs credentials/clients the engine does not own;
callers name them programmatically as ``"module:attr"`` fetcher
strings in ``pipeline.run(fetchers=...)`` (see pipeline.py and
sources/restsource.py). The CLI runs the no-enrichment path: ingest +
delta filter + dim_reason + any dims already in the warehouse.
"""

from __future__ import annotations

import argparse
import json
import logging
import sys
import time


def setup_logging(level: int = logging.INFO) -> logging.Logger:
    """JSON-formatted stderr logging (the reference uses a JSON
    rotating file, reference config/logging_config.py:6-39)."""
    logger = logging.getLogger("spotify_streaming_etl_pipeline_spark")
    if not logger.handlers:
        handler = logging.StreamHandler(sys.stderr)

        class _Json(logging.Formatter):
            def format(self, record: logging.LogRecord) -> str:
                return json.dumps(
                    {
                        "ts": self.formatTime(record),
                        "level": record.levelname,
                        "name": record.name,
                        "msg": record.getMessage(),
                    }
                )

        handler.setFormatter(_Json())
        logger.addHandler(handler)
    logger.setLevel(level)
    return logger


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--raw-dir", required=True, help="export JSON directory")
    parser.add_argument("--warehouse-dir", required=True, help="warehouse root")
    parser.add_argument("--app-name", default="spotify-etl-spark")
    args = parser.parse_args(argv)

    logger = setup_logging()
    start = time.perf_counter()
    logger.info("Started running data extraction.")

    from .pipeline import run
    from .session import get_spark

    spark = get_spark(args.app_name)
    result = run(spark, args.raw_dir, args.warehouse_dir)
    logger.info(
        "Pipeline finished: %d history rows, facts appended %s, %d dead-letter uris, took %.2f seconds"
        % (
            result.n_history_rows,
            result.n_fact_rows,
            len(result.dead_letters),
            time.perf_counter() - start,
        )
    )
    return 0


if __name__ == "__main__":  # pragma: no cover - exercised via main() test
    sys.exit(main())
