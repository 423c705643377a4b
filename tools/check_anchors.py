"""Anchor sweep (r12 verdict task 7): verify that every citation in
COVERAGE.md — implementation files, symbol names, pytest node ids,
declared-query names — still resolves at HEAD, and that reference
``file.py:line`` citations inside package docstrings stay within the
cited file's bounds.  Line numbers drift as code moves; this script
makes the drift visible per round instead of relying on judge
spot-checks.

Checks (exit 1 when any fails):

1. every ```pkg/<path>``` code-span in COVERAGE.md names an existing
   file (``pkg`` = meta_morph_etl_databricks_spark), and a same-row
   backticked symbol that looks like an identifier occurs in that file;
2. every ``test_*.py::test_*`` node id resolves to a function in that
   test file (parametrized ids checked by prefix);
3. every ``q_*`` name appears in the declared-query registry
   (__spark_entry__.queries(), import-only — no SparkSession);
4. every ``<name>.py:<line>`` / ``:<a>-<b>`` citation in the package's
   .py files that names a file under /root/reference points inside the
   file (existence + line bound; the reference is read-only and frozen,
   so these should never drift — a violation means a typo).

Usage: python tools/check_anchors.py   (prints failures; exit code)
"""

from __future__ import annotations

import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
PKG = "meta_morph_etl_databricks_spark"
REF_ROOT = "/root/reference"


def _lines(path: str) -> int:
    with open(path, "rb") as f:
        return sum(1 for _ in f)


def check_coverage(failures: list[str]) -> None:
    text = open(os.path.join(HERE, "COVERAGE.md")).read()

    # --- declared-query names
    try:
        import __spark_entry__ as se

        declared = set(se.queries())
    except Exception as e:  # pragma: no cover - registry import is cheap
        failures.append(f"COVERAGE: cannot import query registry: {e}")
        declared = set()
    # names COVERAGE documents as retired/absorbed (the 50-slot registry
    # cap forces merges; the history is worth keeping in prose)
    retired = {
        m.group(1)
        for m in re.finditer(
            r"(?:absorbed|retired?s?(?:\s+the\s+separate)?)\s+(q_[a-z0-9_]+)",
            text,
        )
    }
    for q in set(re.findall(r"\bq_[a-z0-9_]+\b", text)) - retired:
        if q.endswith("_"):  # `q_sql_*` family wildcard, written q_sql_*
            if not any(d.startswith(q) for d in declared):
                failures.append(f"COVERAGE: no declared query matches {q}*")
        elif q not in declared and not any(d.startswith(q) for d in declared):
            failures.append(f"COVERAGE: {q} not in __spark_entry__.queries()")

    # --- pytest node ids
    for m in re.finditer(r"\b(test_\w+\.py)::(test_\w+)", text):
        fname, tname = m.groups()
        path = os.path.join(HERE, "tests", fname)
        if not os.path.exists(path):
            failures.append(f"COVERAGE: {fname} does not exist")
            continue
        body = open(path).read()
        if not re.search(rf"^def {re.escape(tname)}\b", body, re.M):
            failures.append(f"COVERAGE: {fname} has no function {tname}")

    # --- per-CELL file + symbol pairs: a table row's other cells name
    # tests and queries (checked above), so symbols only bind to a file
    # cited in the SAME cell
    for row in text.splitlines():
        for cell in row.split("|"):
            files = re.findall(r"`(pkg/[\w/]+\.py)`", cell)
            if not files:
                continue
            syms = [
                s
                for s in re.findall(r"`([A-Za-z_][A-Za-z0-9_]*)`", cell)
                if s != "pkg" and not s.startswith(("q_", "test_"))
            ]
            bodies = {}
            for f in files:
                path = os.path.join(HERE, f.replace("pkg/", PKG + "/", 1))
                if not os.path.exists(path):
                    failures.append(f"COVERAGE: {f} does not exist")
                    continue
                bodies[f] = open(path).read()
            # a symbol binds to ANY file cited in the cell (rows often
            # cite an implementation plus a routing/consumer module)
            for s in syms:
                if bodies and not any(s in b for b in bodies.values()):
                    failures.append(
                        f"COVERAGE: symbol `{s}` not found in any of {files}"
                    )


_CITE = re.compile(r"\b([\w./-]+\.py):(\d+)(?:-(\d+))?\b")


def check_reference_citations(failures: list[str]) -> None:
    """Docstring citations into the frozen reference tree: the named
    file must exist there (matched by basename anywhere under
    /root/reference) and the cited line(s) must be inside it."""
    ref_files: dict[str, list[str]] = {}
    for root, _dirs, names in os.walk(REF_ROOT):
        for n in names:
            if n.endswith(".py"):
                ref_files.setdefault(n, []).append(os.path.join(root, n))
    if not ref_files:
        return  # no reference tree on this host — nothing to check

    own = {
        os.path.basename(p)
        for p in _walk_py(os.path.join(HERE, PKG))
    } | {"bench.py", "gen_scale.py", "verify_oracle.py"}

    for path in _walk_py(os.path.join(HERE, PKG)):
        body = open(path).read()
        for m in _CITE.finditer(body):
            name, a, b = os.path.basename(m.group(1)), m.group(2), m.group(3)
            if name in own or name not in ref_files:
                continue  # self-citations / non-reference names: skip
            hi = int(b or a)
            if not any(hi <= _lines(c) for c in ref_files[name]):
                failures.append(
                    f"{os.path.relpath(path, HERE)}: cites {m.group(0)} but no "
                    f"reference file named {name} has ≥{hi} lines"
                )


def _walk_py(root: str) -> list[str]:
    out = []
    for r, _d, names in os.walk(root):
        out.extend(os.path.join(r, n) for n in names if n.endswith(".py"))
    return out


def main() -> int:
    failures: list[str] = []
    check_coverage(failures)
    check_reference_citations(failures)
    for f in failures:
        print(f"ANCHOR FAIL: {f}")
    print(f"{'FAIL' if failures else 'OK'}: {len(failures)} broken anchor(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
