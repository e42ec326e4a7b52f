#!/usr/bin/env python
"""Fleet fsck for stored index artifacts — READ-ONLY.

Usage:  python tools/fsck_artifacts.py DIR [DIR ...]

Each DIR is one artifact root (a MinHash/text/IVF/phash index dir or
a month-partitioned warehouse table) or a parent holding several; parents are expanded one level.  Prints one
line per finding (level, family, code, path, message + repair) and
exits non-zero iff any ``error``-level finding exists — cron-able.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _expand(d: str) -> list[str]:
    import json

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators.fsck import detect_family

    if detect_family(d) is not None or not os.path.isdir(d):
        # non-directories short-circuit to themselves so fsck_artifact
        # emits its missing_artifact/unknown_family finding instead of
        # this CLI tracebacking on a typo'd path (it is cron-able)
        roots = [d]
    else:
        roots = [
            os.path.join(d, e)
            for e in sorted(os.listdir(d))
            if os.path.isdir(os.path.join(d, e))
            and detect_family(os.path.join(d, e)) is not None
        ]
    # follow ingest-sink layouts to the artifact dirs they track
    out: list[str] = []
    for r in roots:
        if r not in out:
            out.append(r)
        lay = os.path.join(r + "_meta", "_SINK_LAYOUT.json")
        if os.path.isfile(lay):
            try:
                with open(lay) as fh:
                    layout = json.load(fh)
            except (OSError, ValueError):
                continue
            for k, v in sorted(layout.items()):
                if (
                    isinstance(v, str)
                    and k.endswith("_dir")
                    and os.path.abspath(v) != os.path.abspath(r)
                    and os.path.isdir(v)
                    and v not in out
                ):
                    out.append(v)
    return out


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__)
        return 2
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators.fsck import fsck_artifact
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.session import get_spark

    spark = get_spark("fsck")
    spark.sparkContext.setLogLevel("ERROR")
    worst_error = False
    for parent in argv:
        for d in _expand(parent):
            for r in fsck_artifact(spark, d):
                line = f"[{r['level']:5s}] {r.get('family','?'):7s} {r['code']:24s} {r['path']}"
                if r["message"]:
                    line += f"\n        {r['message']}"
                if r["repair"]:
                    line += f"\n        repair: {r['repair']}"
                print(line)
                worst_error = worst_error or r["level"] == "error"
    return 1 if worst_error else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
