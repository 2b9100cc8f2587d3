"""The README's knob table lists exactly the SPARK_GRAFT_* environment
variables the package mentions — pure text scan, no Spark session."""

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
KNOB = re.compile(r"SPARK_GRAFT_[A-Z0-9_]+")


def test_readme_knob_table_matches_package():
    in_code = {
        name
        for path in (ROOT / "mysteryann_spark").rglob("*.py")
        for name in KNOB.findall(path.read_text())
    }
    in_table = {
        m.group(1)
        for line in (ROOT / "README.md").read_text().splitlines()
        if (m := re.match(r"\| `(SPARK_GRAFT_[A-Z0-9_]+)` \|", line))
    }
    assert in_code == in_table, (
        f"in code only: {sorted(in_code - in_table)}; "
        f"in README only: {sorted(in_table - in_code)}"
    )
