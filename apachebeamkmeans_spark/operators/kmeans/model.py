"""KMeans estimator / model — the engine's user-facing clustering API.

`KMeans(params).fit(df)` expects a points frame
(id BIGINT, features ARRAY<DOUBLE>) — see sources.io.load_points /
read_points_text — and runs: init strategy → cached Lloyd loop →
KMeansModel(centers, n_iter). All driver traffic is O(k·dim).

Output formatting reproduces the reference's result shape
`center:point1;point2;...;` (FormatAsTextFn,
BeamKmeansSideInput.java:22-32; driver loop SparKMeansGroupBy.java:153-160)
— but distributed (`collect_list` + `concat_ws` + `df.write`), never a
driver-side loop over collected clusters.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apachebeamkmeans_spark.checkpoints import is_held
from apachebeamkmeans_spark.operators.kmeans import lloyd
from apachebeamkmeans_spark.operators.kmeans.init import initial_centers
from apachebeamkmeans_spark.operators.kmeans.params import KMeansParams


@dataclass
class KMeansModel:
    centers: list[list[float]]
    n_iter: int
    params: KMeansParams

    def save(self, path: str) -> None:
        """Persist the model (centers are k×dim doubles — a driver-side
        JSON file, no Spark job needed)."""
        import dataclasses
        import json
        import os

        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "centers": self.centers,
                    "n_iter": self.n_iter,
                    "params": dataclasses.asdict(self.params),
                },
                f,
            )

    @classmethod
    def load(cls, path: str) -> "KMeansModel":
        import json

        with open(path) as f:
            d = json.load(f)
        return cls(
            centers=d["centers"], n_iter=d["n_iter"], params=KMeansParams(**d["params"])
        )

    def transform(self, df: DataFrame, features_col: str = "features",
                  keep_dist: bool = False) -> DataFrame:
        """Assign each point to its nearest center (adds `center_id`,
        and with `keep_dist` the distance `dist`) — `lloyd.assign`, with
        its precondition: `features_col` holds finite, non-null arrays
        of the centers' width; for p ∈ {1, 2} a null or wrong-length
        array raises ValueError when the plan runs."""
        return lloyd.assign(df, self.centers, self.params.p, features_col, keep_dist)

    def sse(self, df: DataFrame, features_col: str = "features") -> float:
        """Sum of squared (L2) errors to each point's assigned center.
        Assignment uses the MODEL's metric (`params.p`, so a Manhattan
        model scores its own assignments); the error value itself stays
        squared L2 — SSE is squared error by definition."""
        return lloyd.total_sse(df, self.centers, self.params.p, features_col)

    def format_clusters(self, df: DataFrame, features_col: str = "features") -> DataFrame:
        """One line per cluster: `center_id:id1;id2;...;` — the
        reference's grouped text output with member identity by stable
        id (string-formatted doubles as identity was a reference quirk,
        SURVEY.md §8.10)."""
        assigned = self.transform(df, features_col)
        return (
            assigned.groupBy("center_id")
            .agg(F.array_sort(F.collect_list("id")).alias("members"))
            .select(
                F.concat(
                    F.col("center_id").cast("string"),
                    F.lit(":"),
                    F.concat_ws(";", F.col("members")),
                    F.lit(";"),
                ).alias("value")
            )
        )


@dataclass
class KMeans:
    params: KMeansParams = field(default_factory=KMeansParams)

    def fit(self, df: DataFrame, features_col: str = "features") -> KMeansModel:
        # C3: every seeding draw and iteration re-scans the input. Cache
        # it for the fit unless it is held already (cached or a
        # checkpoint), and release only what this fit cached.
        owned = not is_held(df)
        if owned:
            df = df.cache()
        try:
            init = initial_centers(df, self.params, features_col)
            centers, n_iter = lloyd.lloyd_fit(
                df, init, self.params.p, self.params.threshold, self.params.max_iter,
                features_col,
            )
        finally:
            if owned:
                df.unpersist()
        return KMeansModel(centers=centers, n_iter=n_iter, params=self.params)
