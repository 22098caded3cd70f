"""Capture `explain("formatted")` snapshots for an optimization round.

    python scripts/explain_plans.py <round> before q1 q2 ...
    python scripts/explain_plans.py <round> after  q1 q2 ...

Writes plans/<round>/<query>_<tag>.txt — the committed evidence the
optimization deliverable requires (e.g. ``r11`` → plans/r11/).  Plans
are built over the smoke tier (``__spark_entry__.SMOKE_SF_DIR``).
Output is the full formatted plan, capped at 400 lines (the iterative
plans unroll megabytes of lineage; the shape claims live in the first
segment)."""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

CAP = 400


def main() -> None:
    round_name, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    from __spark_entry__ import SMOKE_SF_DIR
    from olist_ecommerce_data_warehouse_spark.plans import REGISTRY
    from olist_ecommerce_data_warehouse_spark.session import get_spark

    out_dir = REPO / "plans" / round_name
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(f"{round_name}_plans", cpus=8)
    for name in names:
        df = REGISTRY[name].fn(spark, SMOKE_SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        text = buf.getvalue()
        lines = text.splitlines()
        if len(lines) > CAP:
            text = "\n".join(lines[:CAP]) + f"\n… ({len(lines) - CAP} more lines trimmed)"
        (out_dir / f"{name}_{tag}.txt").write_text(text + "\n")
        print(f"{name}_{tag}.txt: {min(len(lines), CAP)} lines, "
              f"{text.count('Exchange')} Exchange refs")
    spark.stop()


if __name__ == "__main__":
    main()
