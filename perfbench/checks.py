"""Output checks for every workload, and the repo-hygiene guard.

Each check returns ``None`` when the output is right and a one-line
reason when it is not, so a wrong answer counts as a failed op.
"""

from __future__ import annotations

import math
import os
from collections import Counter


def expected_buckets(counts: Counter, m: int) -> list[list[str]]:
    """The reference's ``out-<b>`` lines: ``ord(w[0]) % m`` buckets,
    code-point sorted, ``"{word} {count}"``."""
    buckets: list[list[str]] = [[] for _ in range(m)]
    for w in sorted(counts):
        buckets[ord(w[0]) % m].append(f"{w} {counts[w]}")
    return buckets


def check_wordcount(out_dir: str, want: list[list[str]]) -> str | None:
    for b, lines in enumerate(want):
        path = os.path.join(out_dir, f"out-{b}")
        if not os.path.exists(path):
            return f"missing {path}"
        with open(path) as f:
            got = f.read().splitlines()
        if got != lines:
            bad = next((i for i, (x, y) in enumerate(zip(got, lines))
                        if x != y), min(len(got), len(lines)))
            return (f"out-{b} line {bad}: "
                    f"{got[bad] if bad < len(got) else '<eof>'!r} != "
                    f"{lines[bad] if bad < len(lines) else '<eof>'!r}")
    return None


def check_frame(got, want) -> str | None:
    """Exact value comparison of two canonical pandas frames."""
    import pandas as pd

    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        for x, y in zip(got[c].tolist(), want[c].tolist()):
            if isinstance(x, float) and isinstance(y, float):
                same = x == y or (math.isnan(x) and math.isnan(y))
            else:
                same = x == y or (pd.isna(x) and pd.isna(y))
            if not same:
                return f"column {c}: {x!r} != {y!r}"
    return None


def check_heavy_hitters(emitted: dict[str, int], exact: Counter,
                        top: int = 5) -> str | None:
    """A count-min sketch never underestimates, and the exact ``top``
    words must all be among the emitted heavy hitters."""
    for w, est in emitted.items():
        if est < exact[w]:
            return f"{w!r}: cms_count {est} < exact {exact[w]}"
    missing = [w for w, _ in exact.most_common(top) if w not in emitted]
    if missing:
        return f"exact top-{top} words not emitted: {missing}"
    return None


def tree_snapshot(root: str, skip: set[str]) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file under ``root``, minus ``skip`` dirs
    and bytecode caches. Stricter than ``git status``: it also sees
    writes into ignored paths."""
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x not in skip and x != "__pycache__"
                   and os.path.join(d, x) not in skip]
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.lstat(p)
            except OSError:
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def check_hygiene(before: dict, after: dict) -> str | None:
    changed = sorted(k for k in before.keys() | after.keys()
                     if before.get(k) != after.get(k))
    if changed:
        return f"run changed {len(changed)} repo file(s): {changed[:5]}"
    return None
