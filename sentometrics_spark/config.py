"""Aggregation control specs — the analogue of the reference's ``ctr_agg``
(validated logical plan for the aggregate stage, /root/reference/R/sentomeasures_main.R:89-190).

Frozen dataclasses => deterministic, hashable plan descriptions.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# Within-document aggregation schemes (reference get_hows()$words,
# /root/reference/R/utils.R:199-205; kernels /root/reference/src/utils.h:86-175).
HOWS_WITHIN = (
    "counts",
    "proportional",
    "proportionalPol",
    "proportionalSquareRoot",
    "UShaped",
    "inverseUShaped",
    "exponential",
    "inverseExponential",
    "TFIDF",
)

# Across-document schemes (reference get_hows()$docs, weights_across
# /root/reference/R/sentomeasures_main.R:518-580).
HOWS_DOCS = (
    "equal_weight",
    "proportional",
    "inverseProportional",
    "exponential",
    "inverseExponential",
)

# Across-time kernel families (reference setup_time_weights /root/reference/R/utils.R:137-160).
HOWS_TIME = ("equal_weight", "linear", "exponential", "almon", "beta", "own")

# Time buckets. The reference supports day/week/month/year
# (/root/reference/R/sentomeasures_main.R:364-377); we add 'hour' for the
# multi-tier rollup engine (north rule).
BUCKETS = ("hour", "day", "week", "month", "year")

FILLS = ("zero", "latest", "none")


@dataclass(frozen=True)
class TimeKernelSpec:
    """One across-time weighting scheme request; expands to >=1 named kernels."""

    how: str  # one of HOWS_TIME
    # exponential params (weights_exponential /root/reference/R/utils.R:22-40)
    alphas_exp: tuple[float, ...] = (0.1, 0.2, 0.3, 0.4, 0.5)
    do_inverse_exp: bool = False
    # almon params (weights_almon /root/reference/R/utils.R:63-86)
    orders_alm: tuple[int, ...] = (1, 2, 3)
    do_inverse_alm: bool = True
    # beta params (weights_beta /root/reference/R/utils.R:114-135)
    a_beta: tuple[float, ...] = (1, 2, 3, 4)
    b_beta: tuple[float, ...] = (1, 2, 3, 4)
    # own: mapping name -> tuple of lag weights
    own: tuple[tuple[str, tuple[float, ...]], ...] = ()

    def __post_init__(self) -> None:
        if self.how not in HOWS_TIME:
            raise ValueError(f"unknown time how: {self.how}")
        # parameter-domain checks mirroring ctr_agg
        # (/root/reference/R/sentomeasures_main.R:131-139)
        if self.how == "almon" and any(r <= 0 for r in self.orders_alm):
            raise ValueError("values in orders_alm should be positive")
        if self.how == "beta" and any(v <= 0 for v in (*self.a_beta, *self.b_beta)):
            raise ValueError("values in a_beta and b_beta should be positive")
        if self.how == "exponential" and any(not (0 < a < 1) for a in self.alphas_exp):
            raise ValueError("values in alphas_exp should be in (0, 1), both excluded")
        if self.how == "own":
            if not self.own:
                raise ValueError("provide 'own' weights when how='own'")
            # '-' is banned in kernel names: the wide pivot mangles
            # dimensions with '--' (is_names_correct,
            # /root/reference/R/utils.R:418, ctr_agg :128-129)
            if any("-" in name for name, _ in self.own):
                raise ValueError("own kernel names must not contain '-'")


@dataclass(frozen=True)
class AggSpec:
    """Full aggregation plan: within-doc x across-doc x across-time.

    Mirrors ctr_agg(howWithin, howDocs, howTime, by, lag, fill, ...)
    (/root/reference/R/sentomeasures_main.R:89-190).
    """

    how_within: str = "proportional"
    how_docs: str = "equal_weight"
    time_kernels: tuple[TimeKernelSpec, ...] = (TimeKernelSpec("equal_weight"),)
    by: str = "day"
    lag: int = 1
    fill: str = "zero"
    do_ignore_zeros: bool = True
    do_sentence: bool = False

    def __post_init__(self) -> None:
        if self.how_within not in HOWS_WITHIN:
            raise ValueError(f"unknown within how: {self.how_within}")
        if self.how_docs not in HOWS_DOCS:
            raise ValueError(f"unknown docs how: {self.how_docs}")
        if self.by not in BUCKETS:
            raise ValueError(f"unknown by: {self.by}")
        if self.fill not in FILLS:
            raise ValueError(f"unknown fill: {self.fill}")
        if self.lag < 1:
            raise ValueError("lag must be >= 1")


def get_hows() -> dict[str, list[str]]:
    """The reference's get_hows() introspection
    (/root/reference/R/utils.R:199-205): every supported within-document,
    across-document, and across-time aggregation scheme."""
    return {
        "words": list(HOWS_WITHIN),
        "docs": list(HOWS_DOCS),
        "time": list(HOWS_TIME),
    }
