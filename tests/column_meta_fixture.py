"""The in-repo columnMeta fixture (tests/data/columnMeta_mini.csv, the
FIXTURES.md §2.1 positional format) and a plain-Python oracle for the
concept tree the dictionary pipeline must build from it.

The fixture holds three studies (``demographics``, ``study_a``,
``study_b``); continuous rows (one path split over two rows, so
min-of-mins/max-of-maxes applies) and categorical rows (multi-value
lists, single-value rows whose value is trimmed off the path and
unioned, a timestamp column); one µ-encoded path; and one quoted path
holding a comma.
"""

import csv
import os

COLUMN_META = os.path.join(os.path.dirname(__file__), "data", "columnMeta_mini.csv")
MU = "µ"


def expected_concepts(studies: list[str]) -> tuple[set[str], set[str]]:
    """(every node path, leaf paths) for the allowed ``studies``: µ
    decodes to a backslash, a single-value categorical row whose value
    equals its last segment loses that segment, the root segment is
    the study, and every ancestor prefix of a leaf is a node."""
    allowed = {s.lower() for s in studies}
    leaves = set()
    with open(COLUMN_META, encoding="utf-8", newline="") as f:
        for row in csv.reader(f, quotechar='"'):
            segs = [s for s in row[0].replace(MU, "\\").split("\\") if s.strip()]
            values = row[4].split(MU) if row[4] else []
            if row[3].strip().lower() == "true" and values == segs[-1:] and len(segs) > 1:
                segs = segs[:-1]
            if segs[0].lower() in allowed:
                leaves.add(tuple(segs))
    nodes = {leaf[:i] for leaf in leaves for i in range(1, len(leaf) + 1)}

    def path(segs):
        return "\\" + "\\".join(segs) + "\\"

    return {path(n) for n in nodes}, {path(leaf) for leaf in leaves}
