"""Self-test of the benchmark's correctness checks: each must pass a
correct answer and catch an injected wrong one (a dropped row, a
changed value, a row in the wrong partition). Needs no JVM:

    python3 perfbench/selftest.py      # from the repository root

Also checks that BENCHMARK.json names exactly the metrics run.py
reports, with the same units.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile


class FakeCtx:
    def __init__(self):
        self.mismatches: list[str] = []

    def mismatch(self, what: str) -> None:
        self.mismatches.append(what)


def write_sink(out_dir: str, rows: list[tuple], wrong_partition: bool = False) -> None:
    """A sink laid out like the ingest committer's: date=<d>/e<epoch>-part-*."""
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = [
        "token", "ts", "sequence_number", "last_traded_price", "open_price",
        "high_price", "low_price", "close_price", "volume",
    ]
    by_date: dict[str, list[tuple]] = {}
    for r in rows:
        day = datetime.fromtimestamp(r[1] / 1e3, tz=timezone.utc).date().isoformat()
        by_date.setdefault(day, []).append(r)
    for i, (day, part) in enumerate(sorted(by_date.items())):
        if wrong_partition and i == 0:
            day = "1999-01-01"
        d = os.path.join(out_dir, f"date={day}")
        os.makedirs(d, exist_ok=True)
        data = {c: [r[j] for r in part] for j, c in enumerate(cols)}
        table = pa.table(data).set_column(
            1, "ts", pa.array(data["ts"], type=pa.timestamp("ms"))
        )
        pq.write_table(table, os.path.join(d, "e0-part-00000.parquet"))


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from angelone_clickhouse_spark.sources.frames import generate_frames_and_truth

    import ingest
    import run
    from harness import canon_rows, multiset_diff

    failures: list[str] = []

    def expect(cond: bool, what: str) -> None:
        if not cond:
            failures.append(what)

    # the multiset comparison
    rows = [("a", 1, 0.1), ("a", 1, 0.1), ("b", 2, None)]
    expect(multiset_diff(rows, list(rows)) == (0, 0), "equal multisets differ")
    expect(multiset_diff(rows, rows[1:]) == (1, 0), "dropped duplicate row not caught")
    expect(multiset_diff(rows, rows[:2] + [("b", 3, None)]) == (1, 1), "changed value not caught")
    expect(
        multiset_diff([("x", 0.30000000000000004)], [("x", 0.3)]) == (0, 0),
        "float rounding noise reported as a mismatch",
    )
    expect(
        canon_rows([(1.0000000001, None)]) == canon_rows([(1.0, None)]),
        "canonical rows keep float noise",
    )

    # the ingest sink check: truth -> expected ticks -> sink on disk
    _, truth = generate_frames_and_truth(
        3000, seed=7, duplicate_every=ingest.DUP_EVERY, corrupt_every=ingest.CORRUPT_EVERY
    )
    expected = ingest.expected_ticks(truth)
    n_unique = len({(r["token"], r["sequence_number"]) for r in truth})
    expect(len(expected) < n_unique, "expected ticks keep truncated frames")
    cases = {
        "correct sink": (expected, False, True),
        "one dropped tick": (expected[:-1], False, False),
        "one duplicated tick": (expected + expected[:1], False, False),
        "one changed price": (
            [expected[0][:3] + (expected[0][3] + 0.01,) + expected[0][4:]] + expected[1:],
            False, False,
        ),
        "a wrong date partition": (expected, True, False),
    }
    with tempfile.TemporaryDirectory() as tmp:
        for i, (label, (sink_rows, wrong_part, ok)) in enumerate(cases.items()):
            out = os.path.join(tmp, f"sink{i}")
            write_sink(out, sink_rows, wrong_partition=wrong_part)
            ctx = FakeCtx()
            passed = ingest.check_sink(ctx, label, out, expected) is not None
            expect(passed == ok and bool(ctx.mismatches) != ok, f"sink check on {label}")

    # the query check compares canonical oracle and engine rows
    oracle = [("7", "2024-01-02", 10.5, 3), ("3", "2024-01-02", 1.25, 1)]
    expect(multiset_diff(canon_rows(oracle), canon_rows(oracle[:1]))[0] == 1,
           "query result with a dropped row not caught")

    # BENCHMARK.json and run.py agree on names and units
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    expect(
        {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END,
        "BENCHMARK.json end_to_end differs from run.END_TO_END",
    )
    expect(
        {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER,
        "BENCHMARK.json per_layer differs from run.PER_LAYER",
    )
    expect(
        {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS),
        "BENCHMARK.json workloads differ from run.WORKLOADS",
    )

    for f in failures:
        print(f"selftest: FAIL {f}", file=sys.stderr)
    print(f"selftest: {'FAILED' if failures else 'ok'} ({len(failures)} failures)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
