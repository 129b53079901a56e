"""Pipeline: ordered mapper composition (reference: linked list via
``self.pipeline`` at src/smashed/base/mappers.py:58-98; ``make_pipeline``
at base/pipeline.py:8-15).

Spark-first difference: ``map(df)`` folds the DataFrame through every
mapper producing ONE lazy Catalyst plan; chained projections collapse
under whole-stage codegen, so an N-stage pipeline of row-local mappers
costs a single pass over the data regardless of N (the reference
materializes every stage: base/interfaces.py:240-243).
"""

from __future__ import annotations

from typing import Iterable, List, Union

from pyspark.sql import DataFrame

from .fingerprint import segment_fingerprint
from .mapper import SparkMapper


class Pipeline(SparkMapper):
    """An ordered list of mappers, itself a mapper (composable)."""

    def __init__(self, mappers: Iterable[SparkMapper] = ()) -> None:
        super().__init__()
        self.mappers: List[SparkMapper] = []
        for m in mappers:
            if isinstance(m, Pipeline):
                self.mappers.extend(m.mappers)
            else:
                self.mappers.append(m)

    # -- composition ------------------------------------------------------

    def __rshift__(self, other: Union[SparkMapper, "Pipeline"]) -> "Pipeline":
        return Pipeline([*self.mappers, other])

    def __lshift__(self, other: Union[SparkMapper, "Pipeline"]) -> "Pipeline":
        return Pipeline([other, *self.mappers])

    def __getitem__(self, idx: int) -> SparkMapper:
        return self.mappers[idx]

    def __len__(self) -> int:
        return len(self.mappers)

    def config(self):
        return {"mappers": [m.fingerprint for m in self.mappers]}

    @property
    def fingerprint(self) -> str:
        return segment_fingerprint(self.mappers)

    # -- execution --------------------------------------------------------

    def apply(self, df: DataFrame) -> DataFrame:
        from ..sources.cache import run_with_cache

        return run_with_cache(self.mappers, df)

    def map(self, df: DataFrame, remove_columns: bool = False) -> DataFrame:
        """Fold the DataFrame through the chain.

        ``remove_columns=True`` prunes to the FINAL mapper's declared
        ``output_fields`` (the reference threads the flag through every
        stage — base/interfaces.py:240-243 — but mid-chain pruning only
        matters for its row-dict backend; in a columnar plan Catalyst
        prunes unused intermediates automatically).
        """
        if not self.mappers:
            raise RuntimeError("cannot run an empty Pipeline")
        out = self.apply(df)
        if remove_columns:
            last = self.mappers[-1]
            if not last.output_fields:
                raise ValueError(
                    "remove_columns=True requires the final mapper to "
                    "declare output_fields"
                )
            out = out.select(*last.output_fields)
        return out


def make_pipeline(first: SparkMapper, *rest: SparkMapper) -> Pipeline:
    """Sugar matching reference base/pipeline.py:8-15."""
    return Pipeline([first, *rest])
