"""Build the cached benchmark tables: ``python3 perfbench/build_data.py
sf0.1|sf1``, run from the root of a checkout. ``sf1`` also writes the
pipeline's DuckDB answers beside the tables.

Each directory carries a stamp, and is rebuilt when the stamp no longer
matches: for sf0.1 the synthesis code and its source, for sf1 also
``tools/scale_up.py``'s SYNTH_VERSION and the text of the contract
oracles the pipeline is checked against.
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
DATA = HERE / ".data"
sys.path[:0] = [str(HERE), str(HERE.parent)]

import common  # noqa: E402
import fixtures  # noqa: E402


def stamp(target: str, root: Path) -> str:
    if target == "sf0.1":
        return fixtures.sf01_stamp()
    from coolplaydruid_spark import contract

    import wl_pipeline

    h = hashlib.sha1(fixtures.sf01_stamp().encode())
    h.update(str(common.repo_tool(root, "scale_up").SYNTH_VERSION).encode())
    for name in wl_pipeline.JOBS:
        h.update(name.encode() + b"\0" + contract.ORACLES[name].encode() + b"\0")
    return h.hexdigest()


def is_built(target: str, root: Path) -> bool:
    return fixtures.is_built(fixtures.table_dir(DATA, target), stamp(target, root))


def build(target: str, root: Path) -> Path:
    sf01 = fixtures.build_once(fixtures.table_dir(DATA, "sf0.1"), stamp("sf0.1", root),
                               fixtures.write_sf01)
    if target == "sf0.1":
        return sf01
    import wl_pipeline

    def write(dest: Path) -> None:
        fixtures.write_sf1(sf01, dest, common.repo_tool(root, "scale_up"))
        wl_pipeline.build_oracles(dest)

    return fixtures.build_once(fixtures.table_dir(DATA, "sf1"), stamp("sf1", root), write)


if __name__ == "__main__":
    build(sys.argv[1], Path.cwd().resolve())
