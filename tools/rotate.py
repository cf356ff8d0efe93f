"""Regenerate ``_CHECK_PRIORITY`` in queries.py from the committed
CORRECTNESS_r*.json artifacts (the round-N ritual the verdicts keep
prescribing — rounds 6 and 7 did this by hand; this tool makes round 8+
one command and keeps the policy identical to what
tests/test_registry_order.py enforces):

1. position 0: any key whose newest driver record is a FAIL (hash or
   rows mismatch, or an err) — red keys get re-checked first; if none,
   the head goes straight to the backlog.
2. ``_STALE_IMPL_PINS`` next (keys whose newest driver sample predates a
   check upgrade OR an implementation rewrite — edit the list in
   queries.py when a twin or a key's Spark code changes after its last
   sample; ``python tools/rotate.py --impl-diff <rev>`` lists the
   queries.py key bodies touched since <rev> to help).
3. every never-driver-checked ORACLE-backed key, preserving their
   current relative order (registration order, oldest first).
4. never-checked rows-only keys.
5. everything already driver-checked, preserving current relative
   order — except already-checked ROWS-ONLY keys, which sink to the
   absolute tail: their driver row can never be anything but
   ``no_oracle``, so re-sampling one spends an evidence slot on a known
   result (round-7 verdict item 4, the q_ann_lsh case).

The tool warns if a rows-only key still lands in the head-50 window.

Also bumps ``_ROTATION_INPUT_ROUNDS`` to the newest committed round.

Run: ``python tools/rotate.py`` (rewrites queries.py in place; prints the
new 50-key window). Then run ``python -m pytest
tests/test_registry_order.py -q`` and the window pre-validation:
``python tools/oracle_check.py --plain /root/testdata/sf0.01 <window>``.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QPATH = os.path.join(REPO, "etl_pipeline_project_spark", "queries.py")


def _correctness() -> dict[int, dict]:
    out: dict[int, dict] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            with open(path) as fh:
                out[int(m.group(1))] = {
                    k: v for k, v in json.load(fh).items()
                    if not k.startswith("__")
                }
    return out


def impl_diff(rev: str) -> int:
    """List registry keys whose queries.py body (decorator twin SQL +
    function) changed between ``rev`` and the working tree — the
    round-12 staleness rule's mechanical half. A key printed here whose
    newest driver CORRECTNESS row predates the change belongs in
    ``_STALE_IMPL_PINS``. (Changes to shared operators/ modules still
    need a manual pin — the key->operator dependency graph is not
    modeled; the round-8/9 rewrites were exactly that case.)

    Spans run decorator-to-next-decorator, so interstitial module-level
    constants attribute to the PRECEDING key — a deliberate
    over-approximation (a false positive costs one wasted sample slot;
    a false negative ships stale evidence)."""
    import subprocess

    lines = open(QPATH).read().splitlines()
    # span of each key: from its @_q("key", ...) decorator (or its
    # _sql_q("key", ...) registration) line to the
    # line before the next top-level def/@ (registration is decorator-
    # based, so twin SQL edits land inside the span too)
    spans: list[tuple[int, int, str]] = []  # (start, end, key) 1-based
    starts: list[tuple[int, str]] = []
    for i, ln in enumerate(lines, 1):
        m = re.match(r'(?:@_q|_sql_q)\(\s*$|(?:@_q|_sql_q)\("(?P<k>q_\w+)"', ln)
        if m and m.group("k"):
            starts.append((i, m.group("k")))
        elif ln.startswith(("@_q(", "_sql_q(")):
            # key on the next line(s)
            for j in range(i, min(i + 3, len(lines))):
                km = re.search(r'"(q_\w+)"', lines[j])
                if km:
                    starts.append((i, km.group(1)))
                    break
    for idx, (start, key) in enumerate(starts):
        end = starts[idx + 1][0] - 1 if idx + 1 < len(starts) else len(lines)
        # trim span at the next top-level non-key construct
        spans.append((start, end, key))
    diff = subprocess.run(
        ["git", "diff", "-U0", rev, "--", QPATH],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout
    changed: set[str] = set()
    for m in re.finditer(r"^@@ [^+]*\+(\d+)(?:,(\d+))? @@", diff, re.M):
        lo = int(m.group(1))
        hi = lo + max(int(m.group(2) or 1), 1) - 1
        for start, end, key in spans:
            if lo <= end and hi >= start:
                changed.add(key)
    for k in sorted(changed):
        print(k)
    print(f"# {len(changed)} key body(ies) changed vs {rev}", file=sys.stderr)
    return 0


def main() -> int:
    sys.path.insert(0, REPO)
    if "--impl-diff" in sys.argv:
        return impl_diff(sys.argv[sys.argv.index("--impl-diff") + 1])
    from etl_pipeline_project_spark.queries import (
        ORACLE,
        _CHECK_PRIORITY,
        _STALE_IMPL_PINS,
    )

    rounds = _correctness()
    if not rounds:
        print("no CORRECTNESS_r*.json found", file=sys.stderr)
        return 1
    newest = max(rounds)

    latest: dict[str, dict] = {}
    for rnd in sorted(rounds):
        for k, rec in rounds[rnd].items():
            latest[k] = rec
    checked = set(latest)

    def is_red(k: str) -> bool:
        rec = latest.get(k)
        if rec is None:
            return False
        # 'no_oracle' is the rows-only marker, not a failure
        if rec.get("err") and rec["err"] != "no_oracle":
            return True
        if rec.get("rows_match") is False or rec.get("schema_match") is False:
            return True
        return rec.get("hash_match") is False

    cur = list(_CHECK_PRIORITY)
    reds = [k for k in cur if is_red(k)]
    pins = [k for k in _STALE_IMPL_PINS if k in cur and k not in reds]
    never = [k for k in cur if k not in checked]
    never_oracled = [k for k in never if k in ORACLE]
    never_rows = [k for k in never if k not in ORACLE]
    head = reds + pins
    rest = [k for k in cur if k in checked and k not in head]
    # checked rows-only keys sink to the very tail: their re-sample can
    # only reproduce `no_oracle`, which buys zero evidence
    rest_oracled = [k for k in rest if k in ORACLE]
    rest_rows = [k for k in rest if k not in ORACLE]
    new = head + never_oracled + never_rows + rest_oracled + rest_rows
    assert sorted(new) == sorted(cur), "rotation must be a permutation"
    for k in new[:50]:
        if k not in ORACLE:
            print(
                f"WARNING: rows-only key {k} sits in the head-50 window — "
                "its driver sample can only report no_oracle",
                file=sys.stderr,
            )

    def fmt(keys: list[str], per: int = 3) -> str:
        return "\n".join(
            "    " + ", ".join(f'"{k}"' for k in keys[i : i + per]) + ","
            for i in range(0, len(keys), per)
        )

    block = ["_CHECK_PRIORITY = ["]
    block.append(
        f"    # --- auto-rotation from CORRECTNESS_r01..r{newest:02d} "
        "(tools/rotate.py;"
    )
    block.append("    # policy enforced by tests/test_registry_order.py).")
    if reds:
        block.append("    # red in their newest driver record — re-check first:")
        block.append(fmt(reds))
    if pins:
        block.append("    # stale-evidence pins (_STALE_IMPL_PINS):")
        block.append(fmt(pins))
    block.append("    # never-driver-checked, oldest first (oracled tier):")
    block.append(fmt(never_oracled))
    if never_rows:
        block.append("    # never-checked rows-only keys (weaker check, drain last):")
        block.append(fmt(never_rows))
    block.append(
        f"    # driver-checked through r{newest:02d} "
        f"({len(rest_oracled)} keys; regression cover via pytest + sf0.1 replays):"
    )
    block.append(fmt(rest_oracled))
    if rest_rows:
        block.append(
            "    # checked rows-only keys — permanent tail (a re-sample can"
        )
        block.append("    # only reproduce no_oracle; see tools/rotate.py):")
        block.append(fmt(rest_rows))
    block.append("]")

    src = open(QPATH).read()
    src, n = re.subn(
        r"_ROTATION_INPUT_ROUNDS = \d+",
        f"_ROTATION_INPUT_ROUNDS = {newest}",
        src,
    )
    assert n == 1
    m = re.search(r"_CHECK_PRIORITY = \[.*?\n\]", src, re.DOTALL)
    assert m, "_CHECK_PRIORITY block not found"
    src = src[: m.start()] + "\n".join(block) + src[m.end() :]
    open(QPATH, "w").write(src)

    print(f"rotation input: r{newest:02d}; backlog {len(never)} never-checked")
    print("new 50-key window:")
    for k in new[:50]:
        print(f"  {k}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
