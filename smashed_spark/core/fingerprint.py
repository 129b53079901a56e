"""Cache-key fingerprints: of a DataFrame's source (``dataset_fingerprint``)
and of a mapper chain (``segment_fingerprint``).

The dataset fingerprint is derived from the *source description* rather
than hashing every row (the reference pickles all rows,
src/smashed/mappers/cache.py:100-111 — O(N) on the driver; a non-starter
at scale).  For a plan over files it keys on the canonicalized plan, the
output schema, the ANSI mode, each file relation's options, and the
``(path, size, mtime)`` of every listed file, so two separate reads of
unchanged files share a key (a re-run hits) while a rewritten or
different file misses.  Any other plan — in-memory data, subqueries, or
Python code (UDFs, ``*InPandas`` nodes) whose plan text does not
identify the code — keys on the analyzed plan plus the Spark
application id; its expression ids are unique within the application,
so only the same DataFrame finds that key again.

A plan is written out twice, because neither form alone pins it: the
JSON form spells out every argument list, but drops some fields (a
cast's eval mode, join hints); the tree string keeps those, but an
expression's own argument list is cut at
``spark.sql.debug.maxToStringFields``.
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterable, Optional

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

# plan classes whose text does not pin the result: Python code (UDFs,
# *InPandas / *InArrow nodes) and subquery expressions (their leaves
# escape the file-relation check).  Matched against the plan's JSON,
# where every node and expression names its class; a stray match only
# costs a cache miss.
_UNSHAREABLE_CLASS = re.compile(
    r'"class":"[\w.$]*(?:Python|InPandas|InArrow'
    r'|\.expressions\.(?:\w*Subquery|Exists|ListQuery))'
)
# per-JVM id stamped on every expression id in the JSON form
_JVM_ID = re.compile(r'"jvmId":"[^"]*"')
_INT_MAX = 2**31 - 1


def _plan_json(plan) -> Optional[str]:
    try:
        return plan.toJSON()
    except Py4JError:  # a node without a JSON form
        return None


def _plan_tree(plan) -> str:
    # verbose, no suffix, no cap on a node's argument lists, no operator
    # ids, no output columns
    return plan.treeString(True, False, _INT_MAX, False, False)


def _listed_files(relation) -> Optional[list]:
    """Sorted ``(path, size, mtime)`` lines of a file relation, read
    from the file index its read already listed: two JVM calls per
    relation, whatever its file count, and no file-system call."""
    try:
        listing = relation.relation().location().allFiles().mkString("\n")
    except Py4JError:  # an index that does not hold its listing
        return None
    lines = []
    for status in filter(None, listing.split("\n")):
        if "; length=" not in status or "; modification_time=" not in status:
            return None
        # access time changes on reads; owner/permission lines only
        # ever cost a miss
        lines.append(re.sub(r"; access_time=\d+", "", status))
    return sorted(lines) or None


def _file_source_key(df: DataFrame, analyzed) -> Optional[str]:
    """The shareable key text of a plan over files (module docstring),
    or None when the plan is not shareable."""
    leaves = analyzed.collectLeaves()
    relations = [leaves.apply(i) for i in range(leaves.size())]
    if not relations or any(
        r.getClass().getSimpleName() != "LogicalRelation"
        or r.relation().getClass().getSimpleName() != "HadoopFsRelation"
        for r in relations
    ):
        return None
    canonical = analyzed.canonicalized()
    plan_json = _plan_json(canonical)
    if plan_json is None or _UNSHAREABLE_CLASS.search(plan_json):
        return None
    parts = [
        _JVM_ID.sub("", plan_json),
        _plan_tree(canonical),
        df.schema.json(),  # canonicalization drops output names
        df.sparkSession.conf.get("spark.sql.ansi.enabled"),
    ]
    for r in relations:
        files = _listed_files(r)
        if files is None:
            return None
        parts += [r.relation().options().toString(), *files]
    return "\n".join(parts)


def dataset_fingerprint(df: DataFrame) -> str:
    """Fingerprint of a DataFrame's *plan* and input files (not its
    rows): the driver cost grows with plan size and file count, never
    with rows.  Shared by every read of the same unchanged files
    through the same transformations (module docstring)."""
    analyzed = df._jdf.queryExecution().analyzed()
    key = _file_source_key(df, analyzed)
    if key is None:
        key = "\n".join(
            [
                df.sparkSession.sparkContext.applicationId,
                _plan_json(analyzed) or "",
                _plan_tree(analyzed),
            ]
        )
    return hashlib.sha1(key.encode("utf-8")).hexdigest()


def segment_fingerprint(mappers: Iterable) -> str:
    """Fingerprint of a mapper chain (also ``Pipeline.fingerprint``)."""
    h = hashlib.sha1()
    for m in mappers:
        h.update(m.fingerprint.encode())
    return h.hexdigest()
