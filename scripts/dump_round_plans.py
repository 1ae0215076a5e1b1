"""Dump .explain("formatted") output for declared queries to
<round_dir>/<query>_<tag>.txt — an optimization round's before/after
plan evidence. Run from the repo root:

    python scripts/dump_round_plans.py plans/r16 before [query ...]
    python scripts/dump_round_plans.py plans/r16 after  [query ...]

With no query names, dumps the full driver set plus the bench headline
set. Uses the bench SF directory (default /root/testdata/sf0.1) so
broadcast/AQE decisions match what the bench actually plans.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

from trialsync_etl_spark.plans import registry  # noqa: E402
from trialsync_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out_dir = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    registry.load_all()
    names = sys.argv[3:]
    if not names:
        from bench import HEADLINE

        names = list(dict.fromkeys(list(registry.driver_queries()) + HEADLINE))
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="dump-round-plans")
    for name in names:
        fn = registry.QUERIES.get(name)
        if fn is None:
            print(f"  SKIP {name}: not in registry", file=sys.stderr)
            continue
        try:
            df = fn(spark, SF_DIR)
            text = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 — dump what we can
            text = f"ERROR building/explaining {name}: {exc!r}\n"
        out = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(out, "w") as f:
            f.write(text)
        print(f"  wrote {out} ({len(text)} chars)", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
