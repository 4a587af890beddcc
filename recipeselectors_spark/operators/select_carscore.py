"""CAR-score selection step (regression only).

Reference: /root/reference/R/step_select_carscore.R (prep :125-183; numeric
outcome enforced via ``check_type(quant=TRUE)`` :133; kernel
``care::carscore`` — omega = R_XX^{-1/2} · corr(X, y); optional shrinkage
``lambda`` :141-144; ``diagonal=TRUE`` reduces to marginal correlations :151;
score = abs(omega) :157-160; prune via ``select_percentile``, maximize).

Spark plan: a single sufficient-statistics aggregation computes the full
(p+1)×(p+1) Pearson correlation matrix — sums, squares and cross-products via
one ``agg`` over pairwise products (p is feature-count-sized, data-sized work
is one pass, map-side combined). The p×p eigendecomposition for R^{-1/2} runs
on the driver in numpy.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import NumericType

from recipeselectors_spark.functions import stats
from recipeselectors_spark.operators import _scoring
from recipeselectors_spark.plans.step import SelectionStep


# Above this feature count the p²/2 Catalyst agg expressions stop being a
# good idea (codegen size scales with p²); switch to one numpy matmul per
# Arrow batch with per-partition partial sums.
BLOCK_THRESHOLD = 64


def _moment_sums_agg(df: DataFrame, cols: list[str]):
    """(n, Σx (p), Σ x·xᵀ (p×p)) via Catalyst agg expressions — ideal at
    small p (whole-stage codegen, map-side combine)."""
    p = len(cols)
    aggs = [F.count(F.lit(1)).alias("__n__")]
    for i, a in enumerate(cols):
        aggs.append(F.sum(F.col(a).cast("double")).alias(f"s_{i}"))
        for j in range(i, p):
            b = cols[j]
            aggs.append(
                F.sum(F.col(a).cast("double") * F.col(b).cast("double")).alias(
                    f"p_{i}_{j}"
                )
            )
    row = df.agg(*aggs).collect()[0].asDict()
    n = int(row["__n__"])
    s = np.array([row[f"s_{i}"] for i in range(p)], dtype=float)
    P = np.empty((p, p))
    for i in range(p):
        for j in range(i, p):
            P[i, j] = P[j, i] = row[f"p_{i}_{j}"]
    return n, s, P


def _moment_sums_block(df: DataFrame, cols: list[str]):
    """Same sums via mapInPandas: one BLAS matmul per Arrow batch, one
    partial-sum row per PARTITION collected to the driver (bounded by the
    partition count, not the row count). This is how the pass survives
    p ≈ 1000, where the agg form would emit ~500k codegen expressions."""
    import pandas as pd

    p = len(cols)

    def part(batches):
        n = 0
        s = np.zeros(p)
        P = np.zeros((p, p))
        for pdf in batches:
            x = pdf.to_numpy(dtype=float)
            n += len(x)
            s += x.sum(axis=0)
            P += x.T @ x
        yield pd.DataFrame(
            {"n": [n], "s": [s.tolist()], "pp": [P.ravel().tolist()]}
        )

    rows = (
        df.select(*[F.col(c).cast("double") for c in cols])
        .mapInPandas(part, schema="n long, s array<double>, pp array<double>")
        .collect()
    )
    n = sum(r["n"] for r in rows)
    s = np.sum([np.array(r["s"]) for r in rows], axis=0)
    P = np.sum([np.array(r["pp"]).reshape(p, p) for r in rows], axis=0)
    return n, s, P


def _moment_stats(
    df: DataFrame, cols: list[str]
) -> tuple[np.ndarray, np.ndarray, np.ndarray, int]:
    """One sufficient-stats pass: (corr, means, pop-variances, n)."""
    p = len(cols)
    if p > BLOCK_THRESHOLD:
        n, s, P = _moment_sums_block(df, cols)
    else:
        n, s, P = _moment_sums_agg(df, cols)
    means = s / n
    cov = P / n - np.outer(means, means)
    var_pop = np.maximum(np.diag(cov).copy(), 1e-300)
    d = np.sqrt(var_pop)
    return cov / np.outer(d, d), means, var_pop, n


def _pair_w2_matrix(
    df: DataFrame,
    cols: list[str],
    means: np.ndarray,
    var_samp: np.ndarray,
) -> np.ndarray:
    """Σ_k z_ki²·z_kj² for every feature pair i<j — the single extra moment
    the Schäfer–Strimmer λ estimator needs. One bounded-output pass; agg
    expressions at small p, per-partition numpy matmuls (Σ c²ᵀc² with
    c = x−mean) above BLOCK_THRESHOLD."""
    import pandas as pd

    p = len(cols)
    if p > BLOCK_THRESHOLD:
        m = np.asarray(means, dtype=float)

        def part(batches):
            W = np.zeros((p, p))
            for pdf in batches:
                c2 = (pdf.to_numpy(dtype=float) - m) ** 2
                W += c2.T @ c2
            yield pd.DataFrame({"w": [W.ravel().tolist()]})

        rows = (
            df.select(*[F.col(c).cast("double") for c in cols])
            .mapInPandas(part, schema="w array<double>")
            .collect()
        )
        W = np.sum([np.array(r["w"]).reshape(p, p) for r in rows], axis=0)
        return W / np.outer(var_samp, var_samp)

    centered = [
        (F.col(c).cast("double") - F.lit(float(means[i])))
        for i, c in enumerate(cols)
    ]
    aggs = []
    for i in range(p):
        for j in range(i + 1, p):
            aggs.append(
                F.sum((centered[i] * centered[i]) * (centered[j] * centered[j]))
                .alias(f"w2_{i}_{j}")
            )
    row = df.agg(*aggs).collect()[0].asDict()
    out = np.zeros((p, p))
    for i in range(p):
        for j in range(i + 1, p):
            out[i, j] = out[j, i] = row[f"w2_{i}_{j}"] / (
                var_samp[i] * var_samp[j]
            )
    return out


class CarScoreStep(SelectionStep):
    step_name = "step_select_carscore"
    prune_mode = "percentile"
    maximize = True

    def __init__(
        self,
        outcome: str,
        terms=None,
        top_p=float("nan"),
        threshold=float("nan"),
        lam: float | str = "auto",
        diagonal: bool = False,
        skip: bool = False,
    ) -> None:
        super().__init__(outcome, terms, top_p, threshold, skip)
        if isinstance(lam, str) and lam != "auto":
            raise ValueError("lam must be a float or 'auto'")
        self.lam = lam
        self.diagonal = diagonal

    def check_types(self, df: DataFrame, x_names: list[str]) -> None:
        types = {f.name: f.dataType for f in df.schema.fields}
        if not isinstance(types[self.outcome], NumericType):
            # step_select_carscore.R:133 — regression only
            raise TypeError("step_select_carscore requires a numeric outcome")
        bad = [c for c in x_names if not isinstance(types[c], NumericType)]
        if bad:
            raise TypeError(f"step_select_carscore requires numeric predictors: {bad}")

    def score(self, df: DataFrame, x_names: list[str]) -> dict[str, float]:
        cols = list(x_names) + [self.outcome]
        clean = df.dropna(subset=cols)
        corr, means, var_pop, n = _moment_stats(clean, cols)
        rxx = corr[:-1, :-1]
        rxy = corr[:-1, -1]
        lam = self.lam
        if lam == "auto":
            # care::carscore default: estimate the shrinkage intensity
            # (Schäfer–Strimmer) when lambda is not supplied (:141-144).
            # Needs one extra bounded-output agg pass (Σ z_i²z_j² per pair);
            # skipped when diagonal (marginal correlations ignore R_XX).
            if self.diagonal or len(x_names) < 2 or n < 2:
                lam = 0.0
            else:
                var_samp = var_pop[:-1] * n / (n - 1)
                sum_w2 = _pair_w2_matrix(clean, x_names, means[:-1], var_samp)
                lam = stats.shrinkage_lambda_from_stats(rxx, sum_w2, n)
        omega = stats.carscore(rxx, rxy, lam=lam, diagonal=self.diagonal)
        return {c: float(w) for c, w in zip(x_names, omega)}
