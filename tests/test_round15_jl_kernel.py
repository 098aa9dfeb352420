"""The JL projection kernel against a plain-Python reference.

``jl_project`` runs ``_jl_kernel`` (one numpy int64 matmul per Arrow
batch and row width) on every input, batch or streaming. The projection
is integer math after one IEEE double multiply+floor, so a scalar
``_sign_py`` matmul in Python is an exact reference: this pins kernel ==
reference row-for-row on the real embeddings table plus the awkward
shapes (NULL vector, negative components, zero components, mixed widths
under ``in_dim=None``, a streaming source), and pins the loud-failure
contracts (width mismatch, zero-norm vector).
"""

from __future__ import annotations

import json
import math

import pytest

from oic_options_chains_spark.operators.projection import (
    _jl_kernel,
    _sign_py,
    jl_project,
)


def _as_map(df):
    return {
        r["vec_id"]: (
            None if r["proj"] is None else tuple(r["proj"]),
            r["norm_ratio_bp"],
        )
        for r in df.collect()
    }


def _reference(vec, out_dim):
    if vec is None:
        return (None, None)
    q = [math.floor(float(x) * 4096) for x in vec]
    proj = [
        sum(qi * _sign_py(i, k) for i, qi in enumerate(q))
        for k in range(out_dim)
    ]
    ratio = (10000 * sum(p * p for p in proj)) // (
        out_dim * sum(qi * qi for qi in q)
    )
    return (tuple(proj), ratio)


def _reference_map(df, out_dim):
    return {
        r["vec_id"]: _reference(r["embedding"], out_dim) for r in df.collect()
    }


def test_jl_kernel_matches_python_reference(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = _as_map(_jl_kernel(e, "embedding", 16, 64))
    assert got == _reference_map(e, 16)
    assert len(got) > 0


def test_jl_kernel_edge_shapes(spark):
    rows = [
        (1, [0.5] * 8),
        (2, None),
        (3, [-0.75, 0.25, -1.5, 2.0, 0.0, -0.001, 0.999, -0.999]),
        (4, [1e-3] * 8),
    ]
    d = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = _as_map(_jl_kernel(d, "embedding", 4, 8))
    assert got == _reference_map(d, 4)
    assert got[2] == (None, None)


def test_jl_project_unknown_width_projects_each_row_at_its_width(spark):
    rows = [
        (1, [0.5, -0.25, 0.75, 1.0]),
        (2, [0.5] * 8),
        (3, None),
        (4, [-0.125, 0.375, 0.625, -0.875]),
        (5, [0.3] * 64),
    ]
    d = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = _as_map(jl_project(d, out_dim=6))
    assert got == _reference_map(d, 6)


def _one_task(spark, rows):
    # the failing jobs below run as a single task, so the error the job
    # reports is the kernel's own, not a failure of a killed sibling task
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).coalesce(1)


def test_jl_kernel_zero_norm_raises_like_ansi_div(spark):
    # floor(1e-5 * 4096) == 0 in every component -> zero-norm audit
    # denominator; the kernel raises instead of emitting a ratio
    d = _one_task(spark, [(1, [1e-5] * 8)])
    with pytest.raises(Exception, match="zero-norm"):
        _jl_kernel(d, "embedding", 4, 8).collect()
    # an empty vector has zero norm too (in_dim=None accepts width 0)
    empty = _one_task(spark, [(1, [])])
    with pytest.raises(Exception, match="zero-norm"):
        jl_project(empty, out_dim=4).collect()


def test_jl_kernel_width_mismatch_raises(spark):
    d = _one_task(spark, [(1, [0.5] * 8), (2, [0.5] * 7)])
    with pytest.raises(Exception, match="width 7 != in_dim 8"):
        _jl_kernel(d, "embedding", 4, 8).collect()


def test_jl_project_routes_batch_to_kernel(spark):
    d = spark.createDataFrame(
        [(1, [0.5] * 8)], "vec_id bigint, embedding array<double>"
    )
    plan = (
        jl_project(d, out_dim=4, in_dim=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" in plan


def test_jl_project_streaming_matches_reference(spark, tmp_path):
    schema = "vec_id bigint, embedding array<double>"
    rows = [
        (1, [0.5] * 8),
        (2, None),
        (3, [-0.75, 0.25, -1.5, 2.0, 0.0, -0.001, 0.999, -0.999]),
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, (vid, vec) in enumerate(rows):
        (src / f"f{i}.json").write_text(
            json.dumps({"vec_id": vid, "embedding": vec})
        )
    stream = spark.readStream.schema(schema).json(str(src))
    out = str(tmp_path / "out")
    q = (
        jl_project(stream, out_dim=4, in_dim=8)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = _as_map(spark.read.parquet(out))
    assert got == _reference_map(spark.createDataFrame(rows, schema), 4)
