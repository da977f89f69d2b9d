"""The benchmark's workloads: which calls a pass makes, on which inputs, and
what the seed decides. See README.md for why each workload exists.

Sizes are fixed by the time budget of one run (set-up, a cold pass and a
warm pass in about a minute on a 4-core host), not by the engine's limits.
"""

from __future__ import annotations

import os
import random

import datagen

# The two statistics queries the Kendall/rolling-correlation fusion item
# targets. The other ML queries are left out for the time budget: the
# single-step kernels (q_ml_linreg_gram, q_ml_logreg_grad, q_ml_kmeans_step,
# q_ml_gmm_estep, q_ml_gnb_params) each repeat one iteration of a fit below,
# and q_ml_spearman, q_ml_crossval and q_ml_gbdt_iter2 cost about 1 s each.
ML_QUERIES = (
    "q_ml_kendall_tau",
    "q_win_rolling_corr",
)
ML_FITS = (
    "linreg_normal",
    "logreg_gd",
    "logreg_irls",
    "kmeans_fit",
    "gmm_em_1d",
    "gaussian_nb_fit",
)
# the chain's order is its data flow: minhash fills the session memo that
# the later calls read. q_llm_dedup_incremental is left out for the time
# budget: it repeats the neardup verify against a corpus split.
DEDUP_CHAIN = (
    "q_llm_minhash",
    "q_llm_neardup_pairs",
    "q_llm_sim_threshold",
    "q_graph_components",
)

ML_EVENTS = 10_000  # the sf0.01 row counts
ML_LINEITEM = 60_000
SPARSE_DOCS = 2_000  # plus 2% planted near-dups
SPARSE_VECS = 1_000


class Workload:
    """One workload. ``calls`` are ``(kind, name)`` pairs with kind
    ``"query"`` (a registry query) or ``"fit"`` (an ``ml_iterative`` fit)."""

    def __init__(self, name, items_table, calls, make_inputs, input_key, params=None):
        self.name = name
        self.items_table = items_table
        self._calls = calls
        self._make_inputs = make_inputs
        self._input_key = input_key
        self._params = params or (lambda seed: {})

    def calls(self, seed: int) -> list[tuple[str, str]]:
        return self._calls(seed)

    def params(self, seed: int) -> dict:
        return self._params(seed)

    def input_dir(self, root: str, seed: int) -> str:
        """Directory holding this seed's inputs, generated on first use."""
        d = os.path.join(root, "inputs", self._input_key(seed))
        stamp = os.path.join(d, "COMPLETE")
        if not os.path.exists(stamp):
            datagen.write(self._make_inputs(seed), d)
            with open(stamp, "w") as f:
                f.write("ok\n")
        return d


def _ml_calls(seed: int) -> list[tuple[str, str]]:
    calls = [("fit", f) for f in ML_FITS] + [("query", q) for q in ML_QUERIES]
    random.Random(seed).shuffle(calls)
    return calls


def _ml_params(seed: int) -> dict:
    """Initial parameters of the iterative fits, drawn from the seed around
    the values examples/train_models.py uses."""
    rng = random.Random(seed)
    return {
        "kmeans_init": [
            [v + rng.uniform(-10, 10), h + rng.uniform(-2, 2)]
            for v, h in ((50.0, 6.0), (100.0, 12.0), (150.0, 18.0))
        ],
        "gmm_init": {
            "pi": [0.5, 0.5],
            "mu": [50.0 + rng.uniform(-10, 10), 150.0 + rng.uniform(-10, 10)],
            "sigma": [25.0 + rng.uniform(-5, 5), 25.0 + rng.uniform(-5, 5)],
        },
    }


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "ml_train",
            items_table="events",
            calls=_ml_calls,
            make_inputs=lambda seed: datagen.gen_ml_tables(seed, ML_EVENTS, ML_LINEITEM),
            input_key=lambda seed: f"ml-{seed}-{ML_EVENTS}-{ML_LINEITEM}",
            params=_ml_params,
        ),
        Workload(
            "dedup_sparse",
            items_table="documents",
            calls=lambda seed: [("query", q) for q in DEDUP_CHAIN],
            make_inputs=lambda seed: datagen.gen_sparse_corpus(
                seed, SPARSE_DOCS, SPARSE_VECS
            ),
            input_key=lambda seed: f"sparse-{seed}-{SPARSE_DOCS}-{SPARSE_VECS}",
        ),
    )
}
