"""L6/A4 — in-engine per-model performance instrumentation.

The reference times each model with ``time.process_time()`` around an x100
repeated call per record when ``Perf=1``
(/root/reference/src/strategies/language_identification/cld2.py:22-27,
langid.py:19-24, detect_fast.py:19-24; flag default.ini:4), sums the
durations per segment, and reports mean seconds/record
(stats/performance.py:18-19,41).

Spark surface: the hot path stays clean (bench.py remains the headline
harness); when instrumentation is requested, the one model UDF
(``langid_models``) times each model's call, so every Arrow batch adds
each model's ``process_time`` delta and row count to SPARK ACCUMULATORS
— executor-side totals stream back to the driver with task completion,
no extra jobs, no per-row Python beyond the model calls the batch
already makes. The x100 repetition is intentionally NOT reproduced
in-engine (it was the reference's micro-benchmark-stabilization for
per-record timing, README.md:17; batch timing amortizes that noise
already).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import langid_models, langspec


class ModelPerf:
    """Accumulator set for one instrumented run.

    ``seconds[model]`` / ``rows[model]`` fill as tasks complete; call
    :meth:`mean_seconds_per_record` after an action. Accumulator updates
    from re-executed tasks can double-count under speculation/retries —
    fine for A4-style reporting, never used for correctness."""

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self.seconds = {m: sc.accumulator(0.0) for m in langspec.MODELS}
        self.rows = {m: sc.accumulator(0) for m in langspec.MODELS}

    def with_predictions(self, df: DataFrame,
                         text_col: str = "text") -> DataFrame:
        """``with_model_predictions``'s columns from a UDF that times each
        model's call on every Arrow batch into these accumulators."""
        return langid_models._add_predictions(
            df, text_col, langid_models._identify_udf(timer=self))

    def mean_seconds_per_record(self) -> dict[str, float]:
        return {
            m: (self.seconds[m].value / self.rows[m].value
                if self.rows[m].value else 0.0)
            for m in langspec.MODELS
        }

    def performance_text(self) -> str:
        """A4 file format (stats/performance.py:30-41, trailing space)."""
        mean = self.mean_seconds_per_record()
        return (f"{mean['detect_fast']} {mean['langid']} "
                f"{mean['cld2']} \n")
