"""SampEn analytics operator — Spark-first re-expression of
``SampleEntropy`` (reference: eristropy/sample_entropy.py:27-424).

Topology (SURVEY.md §3.2): the (m, r, p) search is a driver-side loop —
each trial launches ONE Spark job that evaluates every signal in
parallel (one per-signal bootstrap projection → global aggregate), so the
parallelism lives *inside* the trial exactly where the data is.  The
token table is persisted across trials to amortize the scan.  The
final pass is a single zero-shuffle projection.

Sampler: Optuna TPE with a fixed seed when optuna is importable
(reference behavior, sample_entropy.py:318); otherwise a deterministic
seeded uniform random search over the same ranges — same interface,
documented fallback (SURVEY.md §7.5).

NaN semantics match the reference: a trial whose objective is NaN is a
failed trial; if every trial fails, ``(m*, r*, p*) = NaN`` and an
``OptimizationFailureWarning`` is raised (sample_entropy.py:333-344).
"""

from __future__ import annotations

import math
import warnings
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eristropy_spark.functions.signals import map_signals
from eristropy_spark.kernels.sampen import bootstrap_mse, sampen_se
from eristropy_spark.kernels.sampen_batch import sampen_many
from eristropy_spark.operators.entropy import bootstrap_stat, compute_entropy

__all__ = [
    "SampleEntropyOp",
    "SampEnSettingWarning",
    "OptimizationFailureWarning",
]


class SampEnSettingWarning(UserWarning):
    """Boundary-condition warnings for SampEn settings (reference parity)."""


class OptimizationFailureWarning(UserWarning):
    """Raised when the (m, r, p) optimization fails (reference parity)."""


def _poisoned(col, agg):
    """``agg(col)``, but NaN if ANY value is NaN or NULL — np.mean /
    np.median semantics (the reference's ``_mean(mse)`` and A5's
    ``np.median``, sample_entropy.py:295).  Spark's aggregates skip
    NULLs, and the per-signal boundary hands an undefined (NaN) objective
    to Spark as NULL, so the NULL leg is the one that fires."""
    return F.when(
        (F.count(F.lit(1)) > F.count(col)) | (F.max(F.isnan(col).cast("int")) > 0),
        F.lit(float("nan")),
    ).otherwise(agg(col))


@dataclass
class _Trial:
    number: int
    m: int
    r: float
    p: float
    value: float = float("nan")


@dataclass
class SampleEntropyOp:
    """Distributed SampleEntropy with the reference's parameter surface.

    Args mirror sample_entropy.py:57-92; ``df`` is a token table
    (doc_id, tokens, n_tok, …) instead of a long pandas frame.
    """

    df: DataFrame
    objective: str = "mse"
    n_boot: int = 100
    n_trials: int = 100
    random_seed: int | None = None
    r_range: tuple[float, float] = (0.10, 0.50)
    m_range: tuple[int, int] = (1, 3)
    p_range: tuple[float, float] = (0.01, 0.99)
    lam: float = 0.33
    r: float | None = None
    m: int | None = None
    p: float | None = None
    trials_: list[_Trial] = field(default_factory=list)

    def __post_init__(self) -> None:
        self._check_ranges()
        self._check_fixed_values()
        self._check_positive_integer(self.n_boot, "n_boot")
        self._check_positive_integer(self.n_trials, "n_trials")
        if self.random_seed is not None and (
            not isinstance(self.random_seed, int) or self.random_seed < 0
        ):
            raise ValueError("random_seed must be a non-negative integer")
        if self.objective not in {"mse", "sampen_eff"}:
            raise ValueError("objective must be one of {'mse', 'sampen_eff'}")

        # min group-length guard (sample_entropy.py:106-111)
        min_len = self.df.agg(F.min("n_tok")).collect()[0][0]
        if min_len is None:
            raise ValueError("Input token table is empty")
        if self.m_range[1] > min_len:
            raise ValueError(
                "The upper limit of m_range cannot exceed the length of the "
                "shortest sequence in the token table."
            )

        self.m_star_: float | int | None = self.m
        self.r_star_: float | None = self.r
        self.p_star_: float | None = self.p

    # -- validation (reference: sample_entropy.py:129-203) ----------------
    def _check_ranges(self) -> None:
        for name in ("r_range", "m_range", "p_range"):
            rng = getattr(self, name)
            if rng is None:
                continue
            if not isinstance(rng, tuple) or len(rng) != 2:
                raise ValueError(f"{name} must be a tuple of two elements.")
            if rng[1] <= rng[0]:
                raise ValueError(f"Second element of {name} must be greater than the first.")
            if name == "p_range" and not (0 < rng[0] < rng[1] < 1):
                raise ValueError(
                    "In p_range, the first element must be > 0 and the second element < 1."
                )
            if name == "r_range" and rng[0] <= 0:
                raise ValueError("In r_range, the first element must be > 0.")
            if name == "m_range" and not (
                isinstance(rng[0], int) and isinstance(rng[1], int)
            ):
                raise ValueError("In m_range, both elements must be integers.")

    def _check_fixed_values(self) -> None:
        if self.m is not None and (not isinstance(self.m, int) or self.m <= 0):
            raise ValueError("m must be an integer > 0.")
        if self.r is not None and self.r <= 0:
            raise ValueError("r must be > 0.")
        if self.p is not None and (
            not isinstance(self.p, float) or not (0 < self.p < 1)
        ):
            raise ValueError("p must be a float between 0 and 1 (exclusive).")
        if self.lam is not None and self.lam < 0:
            raise ValueError("lam must be >= 0")
        if self.r is not None and not (self.r_range[0] < self.r < self.r_range[1]):
            warnings.warn(
                "Provided r value is at the boundary of the r_range.",
                SampEnSettingWarning,
            )
        if self.p is not None and not (self.p_range[0] < self.p < self.p_range[1]):
            warnings.warn(
                "Provided p value is at the boundary of the p_range.",
                SampEnSettingWarning,
            )

    @staticmethod
    def _check_positive_integer(value: int, name: str) -> None:
        if not isinstance(value, int) or value <= 0:
            raise ValueError(f"{name} must be a positive integer. Received {value}")
        thresholds = {"n_boot": 50, "n_trials": 10}
        if name in thresholds and value < thresholds[name]:
            warnings.warn(
                f"{name} is set to a low value; consider at least {thresholds[name]}.",
                SampEnSettingWarning,
            )

    # -- objectives (one Spark job per trial) ------------------------------
    def _trial_objective(self, m: int, r: float, p: float) -> float:
        seed = self.random_seed if self.random_seed is not None else 0
        if self.objective == "mse":
            mse = bootstrap_stat(bootstrap_mse, m, r, p, self.n_boot, seed)
            row = map_signals(
                self.df, (), ("tokens", "doc_id"), "mse double",
                lambda v, d: (mse(v, d),),
            ).agg(_poisoned(F.col("mse"), F.avg).alias("obj")).collect()[0]
            base = row["obj"]
            return float("nan") if base is None else float(base) + self.lam * math.sqrt(r)
        # sampen_eff: median over signals of max(se, se/sampen)
        # (sample_entropy.py:273-296)
        se = bootstrap_stat(sampen_se, m, r, p, self.n_boot, seed)

        def _se_and_sampen(views, doc_ids):
            return [se(v, d) for v, d in zip(views, doc_ids)], sampen_many(views, m, r)

        per_sig = map_signals(
            self.df, (), ("tokens", "doc_id"), "se double, s double",
            _se_and_sampen, batched=True,
        ).select(F.greatest(F.col("se"), F.col("se") / F.col("s")).alias("eff"))
        row = per_sig.agg(_poisoned(F.col("eff"), F.median).alias("obj")).collect()[0]
        return float("nan") if row["obj"] is None else float(row["obj"])

    # -- search -------------------------------------------------------------
    def _suggestions(self) -> list[tuple[int, float, float]]:
        """Deterministic seeded uniform search over the reference's ranges
        (fixed values short-circuit suggestion, sample_entropy.py:254-263)."""
        rs = np.random.RandomState(self.random_seed)
        out = []
        for _ in range(self.n_trials):
            m = self.m if self.m is not None else int(rs.randint(self.m_range[0], self.m_range[1] + 1))
            r = self.r if self.r is not None else float(rs.uniform(*self.r_range))
            p = self.p if self.p is not None else float(rs.uniform(*self.p_range))
            out.append((m, r, p))
        return out

    def find_optimal_params(self) -> None:
        """Minimize the objective over n_trials (sample_entropy.py:308-344)."""
        self.df.persist()
        try:
            try:
                self._optimize_optuna()
            except ImportError:
                self._optimize_random()
        finally:
            self.df.unpersist()

        if not any(not math.isnan(t.value) for t in self.trials_):
            self.m_star_ = float("nan")
            self.r_star_ = float("nan")
            self.p_star_ = float("nan")
            warnings.warn(
                "Optimization failed most likely because the r_range is too "
                "stringent or the signals are too short to estimate SampEn.",
                OptimizationFailureWarning,
            )
        else:
            best = min(
                (t for t in self.trials_ if not math.isnan(t.value)),
                key=lambda t: t.value,
            )
            self.m_star_, self.r_star_, self.p_star_ = best.m, best.r, best.p

    def _optimize_optuna(self) -> None:
        import optuna  # noqa: F401  gated: not installed in this sandbox

        from optuna.samplers import TPESampler

        optuna.logging.set_verbosity(optuna.logging.ERROR)
        study = optuna.create_study(sampler=TPESampler(seed=self.random_seed))

        def _objective(trial):
            m = self.m if self.m is not None else trial.suggest_int("m", *self.m_range)
            r = self.r if self.r is not None else trial.suggest_float("r", *self.r_range)
            p = self.p if self.p is not None else trial.suggest_float("p", *self.p_range)
            val = self._trial_objective(m, r, p)
            self.trials_.append(_Trial(len(self.trials_), m, r, p, val))
            return val

        try:
            study.optimize(_objective, n_trials=self.n_trials)
        except ValueError:
            pass  # "No trials are completed yet." — handled by the NaN path

    def _optimize_random(self) -> None:
        for i, (m, r, p) in enumerate(self._suggestions()):
            val = self._trial_objective(m, r, p)
            self.trials_.append(_Trial(i, m, r, p, val))

    # -- final pass (sample_entropy.py:346-402) ------------------------------
    def compute_all_sampen(
        self, optimize: bool = False, estimate_uncertainty: bool = False
    ) -> DataFrame:
        if optimize:
            self.find_optimal_params()
        for v in (self.m_star_, self.r_star_):
            if v is None or (isinstance(v, float) and math.isnan(v)):
                raise ValueError(
                    "Invalid m or r values. Optimize first (optimize=True) or "
                    "provide valid parameters."
                )
        if estimate_uncertainty and self.p_star_ is None:
            raise ValueError(
                "Cannot estimate uncertainty without a stationary bootstrap "
                "probability; optimize or provide p first."
            )
        return compute_entropy(
            self.df,
            m=int(self.m_star_),
            r=float(self.r_star_),
            permen_m=None,
            estimate_uncertainty=estimate_uncertainty,
            p=self.p_star_ if estimate_uncertainty else 0.5,
            n_boot=self.n_boot,
            seed=self.random_seed if self.random_seed is not None else 0,
            keep_cols=(),
        )

    def get_optimization_results(self):
        """Trial table as a pandas DataFrame (sample_entropy.py:404-424)."""
        if not self.trials_:
            raise ValueError(
                "No optimization results available; run find_optimal_params first."
            )
        import pandas as pd

        return pd.DataFrame(
            {
                "number": [t.number for t in self.trials_],
                "value": [t.value for t in self.trials_],
                "params_m": [t.m for t in self.trials_],
                "params_r": [t.r for t in self.trials_],
                "params_p": [t.p for t in self.trials_],
            }
        )
