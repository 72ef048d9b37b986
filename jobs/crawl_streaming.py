"""spark-submit entrypoint for the STREAMING crawl variant
(streaming/crawl.py — the self-feeding Structured Streaming loop).

    bash tools/make_dist.sh        # builds dist/who_focus_crawler_spark.zip
    spark-submit --py-files dist/who_focus_crawler_spark.zip \
        jobs/crawl_streaming.py --work-dir /tmp/crawl-stream --tier unit

Re-running the same --work-dir resumes exactly where the stream left
off (checkpoint + snapshot catalog + inbox all live under it); a
drained crawl re-run is a no-op. --max-cycles stops early (restart
later with the same command).
"""

from __future__ import annotations

import argparse
import json
import os

from who_focus_crawler_spark.plans.crawl import CrawlConfig
from who_focus_crawler_spark.session import submit_spark
from who_focus_crawler_spark.sources.fixture_web import (
    E2E_WEB,
    UNIT_WEB,
    WebConfig,
)
from who_focus_crawler_spark.streaming.crawl import run_crawl_streaming


def main() -> None:
    ap = argparse.ArgumentParser(
        description="who_focus_crawler_spark streaming crawl job"
    )
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--tier", choices=["unit", "e2e", "custom"], default="unit")
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--hosts", type=int, default=40)
    ap.add_argument("--pages", type=int, default=2000)
    ap.add_argument("--max-cycles", type=int, default=None)
    args = ap.parse_args()

    web = {
        "unit": UNIT_WEB,
        "e2e": E2E_WEB,
        "custom": WebConfig(n_hosts=args.hosts, n_pages=args.pages),
    }[args.tier]
    spark = submit_spark("wfc-crawl-streaming")
    cfg = CrawlConfig(
        web=web,
        checkpoint_dir=os.path.join(args.work_dir, "catalog"),
        num_buckets=args.buckets,
    )
    cat = run_crawl_streaming(
        spark,
        cfg,
        inbox=os.path.join(args.work_dir, "inbox"),
        checkpoint=os.path.join(args.work_dir, "ck"),
        catalog_root=os.path.join(args.work_dir, "catalog"),
        max_cycles=args.max_cycles,
    )
    st = cat.state()
    print(
        json.dumps(
            {
                "snapshot": cat.head(),
                "epochs": st.get("crawl_epochs", 0),
                "fetched": st.get("stream_fetched", 0),
            }
        )
    )


if __name__ == "__main__":
    main()
