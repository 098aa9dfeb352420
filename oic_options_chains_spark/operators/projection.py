"""Random projection (Johnson-Lindenstrauss) for embedding columns.

At 100 TB the dominant ANN cost is the bytes the scan moves per vector;
before IVF/PQ ever runs, a sign random projection (Achlioptas 2003 —
±1 entries preserve pairwise distances within (1±ε) like Gaussian
matrices do) cuts the per-vector width d -> d' with one row-local pass.
This module is the deterministic, oracle-replayable form:

- vectors are quantized to integers (floor(x * 4096), the same
  convention as the kNN-graph L2, operators/graph._l2_int) so every
  engine computes identical sums;
- the projection matrix is never shipped: entry sign(i, k) is
  md5("i:k") parity — any engine (and every task) regenerates the same
  matrix from the formula, a 100 TB-friendly property (nothing to
  broadcast, nothing to version);
- the whole projection is row-local (no shuffle): out[k] =
  Σ_i q[i] * s(i, k), one int64 matmul per Arrow batch.

The norm-preservation audit (Σ_k out_k² vs d' · Σ_i q_i², in basis
points) is the quality gate: E[ratio] = 10000 under JL, and a column of
per-vector ratios far from 10000 means the quantization or dimension
budget is wrong for this corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quantized(vec: Column) -> Column:
    """floor(x * 4096) per component, as bigint."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * 4096).cast("bigint")
    )


def _sign_py(i: int, k: int) -> int:
    """±1 from the md5 parity of "i:k" — the regenerable JL matrix."""
    import hashlib

    h = int(hashlib.md5(f"{i}:{k}".encode()).hexdigest()[:8], 16)
    return 1 if h % 2 == 0 else -1


def _jl_kernel(
    df: DataFrame, vec_col: str, out_dim: int, in_dim: int | None
) -> DataFrame:
    """All input columns plus ``proj``/``norm_ratio_bp`` via one numpy
    int64 matmul per Arrow batch and row width.

    Quantization is one vectorized floor(x * 4096); the projection is
    ``qa @ S`` with the width x ``out_dim`` sign matrix built in the
    task from :func:`_sign_py`, once per row width it sees. The norm
    audit is two int64 row sums plus a floor division (both sides
    non-negative, so numpy ``//`` == SQL ``DIV``). Values stay far
    inside int64 for unit-scale embeddings. NULL vectors yield NULL
    ``proj``/``norm_ratio_bp``; a zero-norm quantized vector raises,
    and so does a width other than ``in_dim`` when ``in_dim`` is
    given."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    schema = StructType(
        list(df.schema.fields)
        + [
            StructField("proj", ArrayType(LongType())),
            StructField("norm_ratio_bp", LongType()),
        ]
    )

    def run(batches):
        import numpy as np

        sign_mats: dict[int, np.ndarray] = {}
        for pdf in batches:
            n = len(pdf)
            proj_out: list = [None] * n
            norm_out: list = [None] * n
            vecs = pdf[vec_col]
            by_width: dict[int, list[int]] = {}
            for j in range(n):
                if vecs.iloc[j] is not None:
                    by_width.setdefault(len(vecs.iloc[j]), []).append(j)
            for width, rows in by_width.items():
                if in_dim is not None and width != in_dim:
                    raise ValueError(
                        f"jl_project: {vec_col} width {width} != in_dim {in_dim}"
                    )
                if width not in sign_mats:
                    sign_mats[width] = np.array(
                        [[_sign_py(i, k) for k in range(out_dim)] for i in range(width)],
                        dtype=np.int64,
                    ).reshape(width, out_dim)
                arr = np.array(
                    [vecs.iloc[j] for j in rows], dtype=np.float64
                ).reshape(len(rows), width)
                qa = np.floor(arr * 4096.0).astype(np.int64)
                pj = qa @ sign_mats[width]
                num = 10000 * (pj * pj).sum(axis=1)
                den = out_dim * (qa * qa).sum(axis=1)
                if (den == 0).any():
                    raise ValueError(
                        "jl_project: zero-norm quantized vector "
                        "(division by zero in norm audit)"
                    )
                ratio = num // den
                for idx, j in enumerate(rows):
                    proj_out[j] = [int(x) for x in pj[idx]]
                    norm_out[j] = int(ratio[idx])
            out = pdf.copy()
            out["proj"] = proj_out
            out["norm_ratio_bp"] = norm_out
            yield out

    return df.mapInPandas(run, schema)


def jl_project(
    df: DataFrame,
    vec_col: str = "embedding",
    out_dim: int = 16,
    in_dim: int | None = None,
) -> DataFrame:
    """All input columns plus ``proj`` (array<bigint>, length
    ``out_dim``) and ``norm_ratio_bp`` (bigint), batch or streaming.
    Row-local: zero exchanges added to the input plan; per-row cost is
    O(width x ``out_dim``) integer multiply-adds.

    ``in_dim`` pins the vector width: any other width raises instead of
    projecting. ``in_dim=None`` projects each row at its own width."""
    return _jl_kernel(df, vec_col, out_dim, in_dim)
