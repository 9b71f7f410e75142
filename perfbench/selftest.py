"""Self-tests of the benchmark's checks: each planted fault must be caught.

    python3 perfbench/selftest.py

A check that returns a reason makes ``run.py`` count the op as failed,
so each case below asserts that the right output passes and the
planted fault does not. Needs no Spark session; exits 1 on a miss.
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections import Counter

import checks
import gen

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools.oracle_check import canon  # noqa: E402


def wordcount_cases(tmp: str) -> list[tuple[str, bool]]:
    lines = gen.text_lines(3, 0, 200, gen.vocabulary(3))
    want = checks.expected_buckets(gen.oracle_counts(lines), 4)
    out = os.path.join(tmp, "wc")
    os.makedirs(out)

    def write(buckets):
        for b, rows in enumerate(buckets):
            with open(os.path.join(out, f"out-{b}"), "w") as f:
                f.write("".join(r + "\n" for r in rows))

    write(want)
    ok = checks.check_wordcount(out, want) is None
    word, n = want[1][3].split()
    planted = [list(rows) for rows in want]
    planted[1][3] = f"{word} {int(n) + 1}"
    write(planted)
    wrong_count = checks.check_wordcount(out, want) is not None
    os.remove(os.path.join(out, "out-2"))
    missing = checks.check_wordcount(out, want) is not None
    return [("wc: right output passes", ok),
            ("wc: planted wrong out-<b> line fails", wrong_count),
            ("wc: missing out-<b> file fails", missing)]


def registry_cases() -> list[tuple[str, bool]]:
    import pandas as pd

    want = canon(pd.DataFrame({"id": [3, 1, 2],
                                      "score": [0.5, 0.25, float("nan")],
                                      "keep": [True, False, True]}))
    same = canon(pd.DataFrame({"keep": [False, True, True],
                                      "score": [0.25, float("nan"), 0.5],
                                      "id": [1, 2, 3]}))
    wrong = same.copy()
    wrong.loc[0, "score"] = 0.2500001
    return [("registry: same rows in another order pass",
             checks.check_frame(same, want) is None),
            ("registry: planted wrong row fails",
             checks.check_frame(canon(wrong), want) is not None),
            ("registry: dropped row fails",
             checks.check_frame(same.iloc[1:], want) is not None)]


def heavy_hitter_cases() -> list[tuple[str, bool]]:
    exact = Counter({"a": 50, "b": 40, "c": 30, "d": 20, "e": 10, "f": 1})
    emitted = {w: n + 2 for w, n in exact.items() if w != "f"}
    under = dict(emitted, c=29)
    no_top = {w: n for w, n in emitted.items() if w != "a"}
    return [("hh: overestimates pass",
             checks.check_heavy_hitters(emitted, exact) is None),
            ("hh: planted underestimate fails",
             checks.check_heavy_hitters(under, exact) is not None),
            ("hh: missing exact top word fails",
             checks.check_heavy_hitters(no_top, exact) is not None)]


def hygiene_cases(tmp: str) -> list[tuple[str, bool]]:
    repo = os.path.join(tmp, "repo")
    work = os.path.join(repo, ".perfbench_work")
    os.makedirs(os.path.join(repo, "pkg", "__pycache__"))
    os.makedirs(work)
    with open(os.path.join(repo, "pkg", "mod.py"), "w") as f:
        f.write("x = 1\n")
    before = checks.tree_snapshot(repo, {".git", work})
    for p in (os.path.join(work, "scratch"),
              os.path.join(repo, "pkg", "__pycache__", "mod.pyc")):
        with open(p, "w") as f:
            f.write("ignored\n")
    quiet = checks.check_hygiene(
        before, checks.tree_snapshot(repo, {".git", work})) is None
    with open(os.path.join(repo, "planted.txt"), "w") as f:
        f.write("untracked\n")
    tripped = checks.check_hygiene(
        before, checks.tree_snapshot(repo, {".git", work})) is not None
    return [("hygiene: work dir and bytecode are ignored", quiet),
            ("hygiene: planted untracked file trips the guard", tripped)]


def main() -> int:
    with tempfile.TemporaryDirectory() as tmp:
        cases = (wordcount_cases(tmp) + registry_cases()
                 + heavy_hitter_cases() + hygiene_cases(tmp))
    for name, ok in cases:
        print(f"{'ok  ' if ok else 'MISS'} {name}")
    return 0 if all(ok for _, ok in cases) else 1


if __name__ == "__main__":
    sys.exit(main())
