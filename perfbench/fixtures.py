"""Seeded benchmark inputs, generated by ``tools/make_fixtures.py``.

The tool's generators are used unchanged; only its module-level ``SEED``
is set to the benchmark's seed. Generation runs in a child process, so the
benchmark process imports nothing before its timed set-up that the
set-up probe would not import too. Each (seed, scale) is generated once
into ``perfbench/.data`` with its per-table row counts in ``rows.json``.

Run directly: python3 perfbench/fixtures.py <seed> <scale> <out_dir>
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DATA = os.path.join(HERE, ".data")
GENERATOR = os.path.join(REPO, "tools", "make_fixtures.py")


def ensure(seed: int, scale: float, root: str = DATA) -> tuple[str, dict[str, int]]:
    """Directory holding the inputs for (seed, scale), and its row counts."""
    out = os.path.join(root, f"seed{seed}-x{scale:g}")
    rows_path = os.path.join(out, "rows.json")
    if not os.path.exists(rows_path):
        tmp = out + f".tmp{os.getpid()}"
        try:
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), str(seed), repr(scale), tmp],
                check=True,
                stdout=subprocess.DEVNULL,
            )
        except subprocess.CalledProcessError:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    with open(rows_path) as f:
        return out, json.load(f)


def generate(seed: int, scale: float, out: str) -> None:
    import pyarrow.parquet as pq

    spec = importlib.util.spec_from_file_location("make_fixtures", GENERATOR)
    mf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mf)
    mf.SEED = seed
    sys.argv = [GENERATOR, repr(scale), out]
    mf.main()
    rows = {
        name[: -len(".parquet")]: pq.read_metadata(os.path.join(out, name)).num_rows
        for name in sorted(os.listdir(out))
        if name.endswith(".parquet")
    }
    with open(os.path.join(out, "rows.json"), "w") as f:
        json.dump(rows, f, indent=1)


if __name__ == "__main__":
    generate(int(sys.argv[1]), float(sys.argv[2]), sys.argv[3])
