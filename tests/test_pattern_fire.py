"""The CEP pattern fire and the KMV estimate: results and plan shape.

- A NULL user id is one user: after several fires the stream holds one
  NULL-user row equal to the batch twin's.
- A regex with a backslash class means the same thing in the batch
  twin and in the stream as in Python `re` (a regex spliced into SQL
  text loses its unknown escapes: `v\\d` would scan as `vd`).
- Plan shape, no timing: the state a pattern fire writes is planned
  with one shuffle; a KMV estimate over a sketch read from parquet
  with none.
"""

import os
import re
from datetime import datetime

from pyspark.sql import DataFrameWriter

from unstract_spark.operators import sketches
from unstract_spark.operators.timeseries import event_pattern_match
from unstract_spark.streaming.incremental import streaming_pattern_pipeline

SCHEMA = "user_id long, ts timestamp, event_id long, event_type string"
COLS = ("user_id", "seq_len", "n_matches", "first_match", "total_match_len")


def _t(m):
    return datetime(2024, 1, 1, 10, m)


def _land(spark, src, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(src)


def _latest_state(spark, store):
    latest = max(int(d.split("=", 1)[1]) for d in os.listdir(store) if d.startswith("batch_id="))
    return spark.read.parquet(f"{store}/batch_id={latest}")


def _rows(df):
    return sorted((tuple(r[c] for c in COLS) for r in df.collect()), key=repr)


def _run_fires(spark, tmp_path, drops, pattern, codes):
    src, ckpt, store = (str(tmp_path / n) for n in ("src", "ckpt", "store"))
    for rows in drops:
        _land(spark, src, rows)
        assert streaming_pattern_pipeline(spark, src, ckpt, store, pattern, codes) == 1
    return _rows(_latest_state(spark, store))


def test_null_user_is_one_user_across_fires(spark, tmp_path):
    codes = {"view": "v", "click": "c", "purchase": "p"}
    pattern = "v[^e]*?c[^e]*?p"
    drops = [
        [(None, _t(0), 1, "view"), (7, _t(0), 11, "view")],
        [(None, _t(1), 2, "click"), (7, _t(1), 12, "click")],
        [(None, _t(2), 3, "purchase"), (7, _t(2), 13, "purchase")],
    ]
    got = _run_fires(spark, tmp_path, drops, pattern, codes)
    union = spark.createDataFrame([r for d in drops for r in d], SCHEMA)
    want = _rows(event_pattern_match(union, pattern, codes))
    assert got == want
    assert (None, 3, 1, "vcp", 3) in got
    assert len(got) == 2


def test_backslash_regex_matches_python_re(spark, tmp_path):
    codes = {"view": "1", "click": "2", "purchase": "3", "error": "e"}
    pattern = r"1\d*?3"
    # user 1: 1 2 | 3 1 2 | 2 3  -> two matches, one spanning each boundary
    # user 2: 1 e | 2 3          -> blocked by the error
    drops = [
        [(1, _t(0), 1, "view"), (1, _t(1), 2, "click"), (2, _t(0), 21, "view"),
         (2, _t(1), 22, "error")],
        [(1, _t(2), 3, "purchase"), (1, _t(3), 4, "view"), (1, _t(4), 5, "click")],
        [(1, _t(5), 6, "click"), (1, _t(6), 7, "purchase"), (2, _t(2), 23, "click"),
         (2, _t(3), 24, "purchase")],
    ]
    events = [r for d in drops for r in d]
    want = []
    for user in sorted({r[0] for r in events}):
        seq = "".join(codes[r[3]] for r in sorted(e for e in events if e[0] == user))
        found = [m.group(0) for m in re.finditer(pattern, seq)]
        want.append(
            (user, len(seq), len(found), found[0] if found else "", sum(map(len, found)))
        )
    assert want == [(1, 7, 2, "123", 7), (2, 4, 0, "", 0)]
    union = spark.createDataFrame(events, SCHEMA)
    assert _rows(event_pattern_match(union, pattern, codes)) == want
    assert _run_fires(spark, tmp_path, drops, pattern, codes) == want


def _shuffles(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\bExchange\b", plan))


def test_pattern_fire_state_is_planned_with_one_shuffle(spark, tmp_path, monkeypatch):
    """Captures the frame each fire writes to the state store."""
    written = []
    parquet = DataFrameWriter.parquet

    def capture(self, path, *args, **kwargs):
        written.append((path, self._df))
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    codes = {"view": "v", "click": "c", "purchase": "p"}
    drops = [
        [(1, _t(0), 1, "view"), (2, _t(0), 11, "view")],
        [(1, _t(1), 2, "click"), (1, _t(2), 3, "purchase")],
    ]
    _run_fires(spark, tmp_path, drops, "v[^e]*?c[^e]*?p", codes)
    store = str(tmp_path / "store")
    states = [df for path, df in written if path.startswith(store)]
    assert len(states) == 2  # the first fire (no prior state) and a steady one
    assert [_shuffles(df) for df in states] == [1, 1]


def test_kmv_estimate_over_stored_sketch_has_no_shuffle(spark, tmp_path):
    docs = spark.createDataFrame([(i, f"t{i % 300}") for i in range(900)], "doc_id long, text string")
    path = str(tmp_path / "sketch")
    sketches.kmv_sketch(docs, "text", 64).repartition(3).write.parquet(path)
    est = sketches.kmv_estimate(spark.read.schema("h long").parquet(path), 64)
    assert _shuffles(est) == 0
    want = sketches.kmv_distinct(docs, "text", 64).collect()
    assert est.collect() == want
