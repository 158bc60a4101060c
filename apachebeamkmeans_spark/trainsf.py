"""Where the registered trained oracles were trained, and the two
warnings about it.

Several registered oracles embed literals that a numpy twin trains at
import over `TRAIN_SF_DIR` (the driver's correctness sf): the ANN
queries of `queries_similarity` / `queries_sim_serving` and
`queries_kmeans.kmeans_fit_fixed`. This leaf module holds the one
definition of that directory and of the warnings, so the query modules
share them without importing each other (importing
`queries_similarity` runs its numpy trainers).
"""

from __future__ import annotations

import logging
import os

TRAIN_SF_DIR = os.environ.get("SPARK_GRAFT_TRAIN_SF_DIR", "/root/testdata/sf0.01")

log = logging.getLogger(__name__)


def warn_training_fallback(what: str, fallback: str, err: Exception) -> None:
    """Import-time oracle training fell back to `fallback`. ONLY the
    missing-testdata case (FileNotFoundError / OSError) comes here,
    which keeps imports alive on machines without the tables; a bug in
    a trainer must propagate — silently certifying the fallback path
    would mask it (ADVICE r4)."""
    log.warning(
        "%s training fell back to %s (%r); its oracles are NOT "
        "data-trained in this environment", what, fallback, err,
        extra={"training": what, "fallback": fallback, "error": repr(err)},
    )


def warn_if_not_train_sf(sf_dir: str, name: str) -> None:
    """The registered training oracles are numpy-trained literals pinned
    to TRAIN_SF_DIR. Training at another sf is a legitimate use of the
    query, but its result will not match the registered oracle — say so
    loudly instead of letting the mismatch look like an engine bug
    (ADVICE r4). Not an exception: the empty-input sweep and ad-hoc
    runs at other sfs are valid."""
    if os.path.abspath(sf_dir) != os.path.abspath(TRAIN_SF_DIR):
        log.warning(
            "%s running at sf_dir=%r but its registered oracle literals "
            "were trained at %r; oracle comparison is only valid there",
            name, sf_dir, TRAIN_SF_DIR,
            extra={"query": name, "sf_dir": sf_dir,
                   "train_sf_dir": TRAIN_SF_DIR},
        )
