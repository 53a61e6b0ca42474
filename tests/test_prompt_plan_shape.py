"""T9/T10 plan shape: each (row, prompt) answer is hashed once.

A Column helper that reads its input twice copies the input's tree, so
an unstaged `coerce(mock_answer_raw(...))` plans dozens of md5 calls per
prompt. These guards count `md5(` in the optimized plans: at most one
for the document fingerprint plus one per prompt (per union branch for
`run_extraction`'s extract barrier; plus the fused call id for
`single_pass_mock`). No timing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from unstract_spark.mock import doc_fingerprint, mock_answer_hash, mock_answer_raw
from unstract_spark.operators.prompts import (
    coerce,
    coerce_number,
    extract_structured_mock,
    single_pass_mock,
    with_mock_answers,
)
from unstract_spark.plans.pipeline import ExtractionJob, run_extraction

SPECS = [
    {"prompt_key": "invoice_no", "prompt": "id", "enforce_type": "text"},
    {"prompt_key": "total", "prompt": "total of {{invoice_no}}", "enforce_type": "number"},
    {"prompt_key": "vendor", "prompt": "vendor", "enforce_type": "text"},
]
MAX_MD5 = 1 + len(SPECS)


def _md5_calls(plan) -> int:
    return plan.toString().count("md5(")


def _regexp_extract_calls(plan) -> int:
    return plan.toString().count("regexp_extract(")


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan()


def _docs(spark):
    return spark.createDataFrame(
        [(i, f"invoice {i} total {i}0 thousand") for i in range(40)] + [(40, None)],
        "doc_id int, text string",
    )


def test_helper_hashes_each_prompt_once_and_matches_inline(spark):
    docs = _docs(spark).withColumn("fp", doc_fingerprint(F.col("text")))
    staged = with_mock_answers(docs, SPECS, "fp")
    assert _md5_calls(_optimized(staged)) <= MAX_MD5
    assert staged.columns == ["doc_id", "text", "fp", "invoice_no", "total", "vendor"]
    # same values as the unstaged composition
    inline = docs.select(
        "doc_id",
        *[
            coerce(mock_answer_raw(F.lit(s["prompt_key"]), F.col("fp")), s["enforce_type"]).alias(
                s["prompt_key"]
            )
            for s in SPECS
        ],
    )
    got = staged.drop("text", "fp")
    assert sorted(got.collect()) == sorted(inline.collect())


def test_extract_structured_mock_hashes_each_prompt_once(spark):
    out = extract_structured_mock(_docs(spark), SPECS)
    assert out.columns == ["doc_id", "invoice_no", "total", "vendor"]
    assert _md5_calls(_optimized(out)) <= MAX_MD5


def test_number_prompt_extracts_its_number_once(spark):
    n_number = sum(s["enforce_type"] == "number" for s in SPECS)
    out = extract_structured_mock(_docs(spark), SPECS)
    assert _regexp_extract_calls(_optimized(out)) <= n_number
    docs = _docs(spark).withColumn("fp", doc_fingerprint(F.col("text")))
    assert _regexp_extract_calls(_optimized(with_mock_answers(docs, SPECS, "fp"))) <= n_number


def test_coerce_number_values_match_the_branch_per_multiplier_form(spark):
    raws = ["NA", "", None, "-0", "1.5 million", "2 thousand", "3 billion", "abc", "7"]
    df = spark.createDataFrame([(i, r) for i, r in enumerate(raws)], "i int, raw string")
    raw = F.col("raw")
    num = F.regexp_extract(raw, r"(-?\d+(?:\.\d+)?)", 1)
    base = F.when(num == "", None).otherwise(num.cast("double"))
    lower = F.lower(raw)
    branches = (
        F.when(lower.rlike("million"), base * 1e6)
        .when(lower.rlike("thousand"), base * 1e3)
        .when(lower.rlike("billion"), base * 1e9)
        .otherwise(base)
    )
    got = df.select("i", coerce_number(raw).alias("new"), branches.alias("old")).collect()
    # repr tells -0.0 from 0.0
    assert [repr(r.new) for r in sorted(got)] == [repr(r.old) for r in sorted(got)]
    assert [r.new for r in sorted(got)] == [None, None, None, -0.0, 1.5e6, 2e3, 3e9, None, 7.0]


def test_single_pass_mock_hashes_each_answer_once_and_matches_inline(spark):
    keys = [s["prompt_key"] for s in SPECS]
    docs = _docs(spark)
    out = single_pass_mock(docs, keys)
    assert out.columns == ["doc_id", "call_id", *keys]
    # the fingerprint, the fused call id and one hash per key
    assert _md5_calls(_optimized(out)) <= 2 + len(keys)
    fused = "|".join(sorted(keys))
    fp = doc_fingerprint(F.col("text"))
    inline = docs.select(
        "doc_id",
        mock_answer_hash(F.lit(fused), fp).alias("call_id"),
        *[mock_answer_raw(F.lit(f"{fused}#{k}"), fp).alias(k) for k in keys],
    )
    assert sorted(out.collect()) == sorted(inline.collect())


def _union_branches(plan) -> list:
    stack = [plan]
    while stack:
        node = stack.pop()
        children = [node.children().apply(i) for i in range(node.children().size())]
        if node.nodeName() == "Union":
            return children
        stack.extend(children)
    return []


def test_run_extraction_barrier_hashes_each_prompt_once(spark, tmp_path, monkeypatch):
    src = tmp_path / "docs"
    src.mkdir()
    for i in range(4):
        (src / f"d{i}.txt").write_text(f"invoice body {i} total 10{i} dollars")
    # the second localCheckpoint of a run is the extract barrier
    cls = type(spark.range(1))
    checkpoint = cls.localCheckpoint
    barriers = []

    def capture(df, *args, **kwargs):
        barriers.append(df)
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", capture)
    job = ExtractionJob(
        source_dir=str(src), history_path=str(tmp_path / "hist"), prompt_specs=SPECS
    )
    out = run_extraction(spark, job)
    assert out["results"].columns[-3:] == ["invoice_no", "vendor", "total"]
    plan = _optimized(barriers[1])
    branches = _union_branches(plan)
    assert len(branches) == 2
    for branch in branches:
        assert _md5_calls(branch) <= MAX_MD5
    assert _md5_calls(plan) <= len(branches) * MAX_MD5
