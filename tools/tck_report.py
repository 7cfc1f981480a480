"""Generate TCK_REPORT.md — per-feature pass/blacklist coverage, mirroring
the reference's coverage computation (morpheus-tck/.../
TckSparkCypherTest.scala:86-131 "computes the TCK coverage").

Runs every scenario (in-repo corpus + the official openCypher corpus when
OPENCYPHER_TCK_DIR points at a checkout) through the engine and reports:
whitelist pass/fail, blacklisted-still-failing, and wont-fix (write)
counts per feature.

Usage: python tools/tck_report.py [output.md]
"""

from __future__ import annotations

import glob
import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cypher_for_apache_spark_spark import CypherSession, build_spark_session
from cypher_for_apache_spark_spark.tck import parse_feature, run_scenario
from cypher_for_apache_spark_spark.tck.runner import load_blacklist, load_tck_directory

FEATURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "tck"
)


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "TCK_REPORT.md"
    official = os.environ.get("OPENCYPHER_TCK_DIR")

    scenarios = []
    for path in sorted(glob.glob(os.path.join(FEATURE_DIR, "*.feature"))):
        scenarios.extend(parse_feature(open(path).read()))
    if official:
        scenarios.extend(load_tck_directory(official))

    blacklist = load_blacklist(os.path.join(FEATURE_DIR, "blacklist"))
    off_bl = os.path.join(FEATURE_DIR, "official_blacklist")
    if os.path.exists(off_bl):
        blacklist |= load_blacklist(off_bl)

    spark = build_spark_session(
        master="local[4]",
        app_name="tck-report",
        extra_confs={
            "spark.sql.shuffle.partitions": "4",
            "spark.sql.session.timeZone": "UTC",
            "spark.ui.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session = CypherSession(spark)

    stats = defaultdict(lambda: {"pass": 0, "fail": 0, "blacklisted": 0, "wont_fix": 0})
    failures = []
    false_passes = []
    t0 = time.time()
    for sc in scenarios:
        st = stats[sc.feature]
        if sc.writes and sc.key not in blacklist:
            st["wont_fix"] += 1
            continue
        if sc.key in blacklist:
            try:
                run_scenario(session, spark, sc, tck_root=official)
                false_passes.append(sc.key)  # blacklisted scenario worked
            except Exception:
                st["blacklisted"] += 1
            continue
        try:
            run_scenario(session, spark, sc, tck_root=official)
            st["pass"] += 1
        except Exception as ex:
            st["fail"] += 1
            failures.append((sc.key, f"{type(ex).__name__}: {str(ex)[:160]}"))
    wall = time.time() - t0

    total = {k: sum(s[k] for s in stats.values()) for k in ("pass", "fail", "blacklisted", "wont_fix")}
    n_run = total["pass"] + total["fail"]
    lines = [
        "# TCK Coverage Report",
        "",
        f"Corpus: tests/tck/ ({'plus official openCypher TCK at ' + official if official else 'official corpus not present in this environment — set OPENCYPHER_TCK_DIR to include it'}).",
        "Semantics and blacklist discipline mirror the reference integration",
        "(morpheus-tck/.../TckSparkCypherTest.scala:40-110; a blacklisted",
        "scenario that starts passing is itself an error).",
        "",
        f"- scenarios executed: {n_run} whitelist + {total['blacklisted']} blacklisted",
        f"- whitelist passing: **{total['pass']}/{n_run}**"
        + (f" ({100.0 * total['pass'] / n_run:.1f}%)" if n_run else ""),
        f"- blacklisted still failing (expected): {total['blacklisted']}",
        f"- wont-fix (write scenarios, read-only engine): {total['wont_fix']}",
        f"- wall time: {wall:.1f}s",
        "",
        "| Feature | pass | fail | blacklisted | wont-fix |",
        "|---|---|---|---|---|",
    ]
    for feat in sorted(stats):
        s = stats[feat]
        lines.append(
            f"| {feat} | {s['pass']} | {s['fail']} | {s['blacklisted']} | {s['wont_fix']} |"
        )
    if failures:
        lines += ["", "## Failures", ""]
        lines += [f"- `{k}` — {msg}" for k, msg in failures]
    if false_passes:
        lines += ["", "## Blacklisted scenarios that unexpectedly PASSED", ""]
        lines += [f"- `{k}`" for k in false_passes]
    with open(out_path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out_path}: {total['pass']}/{n_run} pass, "
          f"{total['blacklisted']} blacklisted, {len(false_passes)} false-passes")
    return 1 if (failures or false_passes) else 0


if __name__ == "__main__":
    sys.exit(main())
