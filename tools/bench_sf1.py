"""Machine-readable sf1 bench: run the canonical bench.py protocol against
the synthesized 10x corpus (tools/make_sf_big.py -> testdata_sf1/) and
write the one-line JSON to BENCH/BENCH_sf1.json so the next round's driver
can diff scale-up regressions mechanically (r3 verdict item 3 — the sf1
numbers previously lived only as a markdown table).

Usage: python tools/bench_sf1.py  [reps via SPARK_GRAFT_BENCH_REPS]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

SF1_DIR = str(ROOT / "testdata_sf1")
OUT = str(ROOT / "BENCH/BENCH_sf1.json")


def main() -> None:
    if not os.path.exists(os.path.join(SF1_DIR, "documents.parquet")):
        sys.exit(
            f"{SF1_DIR} missing — run `python tools/make_sf_big.py 10` first"
        )
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = SF1_DIR
    env.setdefault("SPARK_GRAFT_BENCH_REPS", "2")
    out = subprocess.run(
        [sys.executable, str(ROOT / "bench.py")],
        capture_output=True, text=True, env=env, timeout=3600,
    )
    line = next(
        (
            ln for ln in out.stdout.splitlines()
            if ln.startswith('{"metric"')
        ),
        None,
    )
    if line is None:
        sys.exit(
            f"bench.py emitted no JSON line\n{out.stdout[-2000:]}"
            f"\n{out.stderr[-2000:]}"
        )
    payload = json.loads(line)
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {OUT}")
    print(line)


if __name__ == "__main__":
    main()
