"""Core mapper abstraction: the Spark-native analog of the reference's
``BaseMapper`` (reference: src/smashed/base/mappers.py:241-309, read-only
study copy at /root/reference).

Design (SURVEY.md §7): a :class:`SparkMapper` declares ``input_fields`` /
``output_fields`` and implements ``apply(df) -> DataFrame`` with *native
DataFrame operations*.  Pipelines fold a DataFrame through the mappers,
building ONE lazy Catalyst plan — schema validation happens eagerly at
each fold step (plan time), execution is deferred to the terminal action.
This replaces the reference's eager operator-at-a-time row loops
(reference base/interfaces.py:216-243) with whole-stage-codegen'd fused
projections.

Scale notes
-----------
* Per-row mappers are *narrow* transformations: no shuffle, executed
  inside whole-stage codegen at any data size.
* Mappers never ``collect()``; driver-side work is limited to constant
  folding of mapper configuration (literals, lookup maps, template
  parses).
* ``fingerprint`` hashes an explicit canonical-JSON config dict instead
  of the reference's pickled stack-frame harvest
  (reference base/mappers.py:179-238) — stable across interpreter
  versions, usable as a cache key (see sources/cache.py).  A DataFrame
  in the config is keyed by its dataset fingerprint (core/fingerprint.py),
  not by its repr, which is only its schema.
"""

from __future__ import annotations

import hashlib
import json
from abc import ABC, abstractmethod
from typing import Any, Dict, Sequence, Tuple, Union

from pyspark.sql import DataFrame

from .fingerprint import dataset_fingerprint

FieldSpec = Union[str, Sequence[str], None]


def _as_tuple(fields: FieldSpec) -> Tuple[str, ...]:
    if fields is None:
        return ()
    if isinstance(fields, str):
        return (fields,)
    return tuple(fields)


def _canonical(obj: Any) -> Any:
    """Make a config value JSON-canonical (sorted, deterministic)."""
    if isinstance(obj, dict):
        return {str(k): _canonical(v) for k, v in sorted(obj.items(), key=lambda kv: str(kv[0]))}
    if isinstance(obj, (list, tuple)):
        return [_canonical(v) for v in obj]
    if isinstance(obj, (str, int, float, bool)) or obj is None:
        return obj
    if isinstance(obj, type):
        return f"type:{obj.__name__}"
    if isinstance(obj, DataFrame):  # repr is only the schema
        return f"dataset:{dataset_fingerprint(obj)}"
    return repr(obj)


class SparkMapper(ABC):
    """A composable DataFrame -> DataFrame transformation.

    Subclasses implement :meth:`apply`.  ``map`` wraps it with the
    reference's field-contract validation (reference
    base/interfaces.py:196-200: declared ``input_fields`` must exist in
    the incoming schema; ``output_fields`` must exist afterwards) — but
    checked against the *full static schema*, which is stronger than the
    reference's first-row check.
    """

    def __init__(
        self,
        input_fields: FieldSpec = None,
        output_fields: FieldSpec = None,
    ) -> None:
        self.input_fields: Tuple[str, ...] = _as_tuple(input_fields)
        self.output_fields: Tuple[str, ...] = _as_tuple(output_fields)

    # -- identity ---------------------------------------------------------

    @property
    def name(self) -> str:
        return type(self).__name__

    def config(self) -> Dict[str, Any]:
        """Explicit constructor config used for fingerprinting.

        Default: every non-private instance attribute.  Subclasses with
        unpicklable resources (tokenizers, jinja envs) override this to
        list only deterministic config.
        """
        return {
            k: v
            for k, v in vars(self).items()
            if not k.startswith("_") and not callable(v)
        }

    @property
    def fingerprint(self) -> str:
        payload = json.dumps(
            {"class": type(self).__name__, "config": _canonical(self.config())},
            sort_keys=True,
        )
        return hashlib.sha1(payload.encode("utf-8")).hexdigest()

    def __eq__(self, other: object) -> bool:
        return isinstance(other, SparkMapper) and self.fingerprint == other.fingerprint

    def __hash__(self) -> int:
        return int(self.fingerprint[:16], 16)

    def __repr__(self) -> str:
        return f"{self.name}({self.fingerprint[:8]})"

    # -- composition ------------------------------------------------------

    def __rshift__(self, other: "SparkMapper"):
        from .pipeline import Pipeline

        return Pipeline([self]) >> other

    def __lshift__(self, other: "SparkMapper"):
        from .pipeline import Pipeline

        return Pipeline([other]) >> self

    # -- execution --------------------------------------------------------

    @abstractmethod
    def apply(self, df: DataFrame) -> DataFrame:
        """Return the transformed DataFrame (lazy; no actions)."""

    def _check_fields(self, df: DataFrame, fields: Tuple[str, ...], when: str) -> None:
        missing = [f for f in fields if f not in df.columns]
        if missing:
            raise ValueError(
                f"{self.name}: {when} field(s) {missing} not in schema "
                f"{df.columns}"
            )

    def map(self, df: DataFrame, remove_columns: bool = False) -> DataFrame:
        """Apply with field validation.

        ``remove_columns=True`` keeps only the mapper's declared
        ``output_fields`` (reference map_kwargs at
        base/interfaces.py:54-59,217-221: only the transform output
        survives); requires declared output fields.
        """
        self._check_fields(df, self.input_fields, "input")
        out = self.apply(df)
        self._check_fields(out, self.output_fields, "output")
        if remove_columns:
            if not self.output_fields:
                raise ValueError(
                    f"{self.name}: remove_columns=True requires declared "
                    "output_fields"
                )
            out = out.select(*self.output_fields)
        return out

    def one(self, spark, **sample) -> Dict[str, Any]:
        """Single-row convenience (reference base/interfaces.py:148-164)."""
        df = spark.createDataFrame([sample])
        rows = self.map(df).collect()
        if len(rows) != 1:
            raise ValueError(f"one() expected 1 row, got {len(rows)}")
        return rows[0].asDict(recursive=True)
