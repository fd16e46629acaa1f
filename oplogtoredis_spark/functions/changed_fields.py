"""Changed-field extraction T4/T5/T6 (SURVEY.md §2).

Given the oplog-style update document (the Mongo ``o`` analogue, as JSON),
produce the list of changed top-level — or, in deep mode, dotted sub-field —
names. Exact re-expression of:

  T4 v1 / replacement  — /root/reference/lib/oplog/oplogEntry.go:93-137
     (replace-vs-modifier classifier ``UpdateIsReplace`` :79-90)
  T5 v2 shallow        — /root/reference/lib/oplog/oplog_v2_converter.go:144-186
     (v2 detector ``IsV2Update`` oplogEntry.go:58-75)
  T6 v2 deep (dotted)  — /root/reference/lib/oplog/oplog_v2_converter.go:16-142
     (the reference's env opt-in, :208-220, is ``changed_fields(deep=True)``)

T4/T5 are pure Catalyst expressions: one ``from_json`` to
``map<string,string>`` (nested objects surface as their JSON text) + map /
higher-order functions — JVM-side, codegen-friendly, no Python in the path.
T6 is genuinely recursive with data-dependent depth, so it runs as an
Arrow-batched pandas UDF (the north_star's canonical "per-event transform as
vectorized UDF") — never a row-at-a-time Python UDF.
"""

from __future__ import annotations

import json
import re

import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

_MAP = "map<string,string>"


# --------------------------------------------------------------------------
# classifiers (oplogEntry.go:58-90)
# --------------------------------------------------------------------------
def is_v2_update(doc_json: Column) -> Column:
    """$v == 2 and a diff key present."""
    return (F.get_json_object(doc_json, "$['$v']") == F.lit("2")) & F.get_json_object(
        doc_json, "$.diff"
    ).isNotNull()


def update_is_replace(doc_json: Column) -> Column:
    """No $set, no $unset, not v2 ⇒ whole-document replacement."""
    return (
        F.get_json_object(doc_json, "$['$set']").isNull()
        & F.get_json_object(doc_json, "$['$unset']").isNull()
        & ~is_v2_update(doc_json)
    )


# --------------------------------------------------------------------------
# T4: insert / replacement → top-level keys; v1 modifier → union of
# modifier-subtree keys (skipping $v, skipping non-object values)
# --------------------------------------------------------------------------
def _top_level_keys(doc_json: Column) -> Column:
    return F.coalesce(F.json_object_keys(doc_json), F.array().cast("array<string>"))


def changed_fields_v1_modifier(doc_json: Column) -> Column:
    entries = F.map_entries(F.from_json(doc_json, _MAP))
    non_meta = F.filter(entries, lambda e: e.key != F.lit("$v"))
    per_entry = F.transform(
        non_meta,
        lambda e: F.coalesce(F.json_object_keys(e.value), F.array().cast("array<string>")),
    )
    return F.flatten(per_entry)


# --------------------------------------------------------------------------
# T5: v2 shallow — diff top-level: i/u/d → subtree keys; s<f> → f; a/o* → skip
# --------------------------------------------------------------------------
def changed_fields_v2_shallow(doc_json: Column) -> Column:
    diff = F.get_json_object(doc_json, "$.diff")
    entries = F.map_entries(F.from_json(diff, _MAP))
    per_entry = F.transform(
        entries,
        lambda e: F.when(
            e.key.isin("i", "u", "d"),
            F.coalesce(F.json_object_keys(e.value), F.array().cast("array<string>")),
        )
        .when(e.key.startswith("s"), F.array(F.substring(e.key, 2, 2147483647)))
        # 'a' and 'o*'-prefixed keys fall through here: ignored
        .otherwise(F.array().cast("array<string>")),
    )
    return F.flatten(per_entry)


# --------------------------------------------------------------------------
# T6: v2 deep — recursive dotted-path extraction (pandas UDF)
# --------------------------------------------------------------------------
_ARRAY_IDX_RE = re.compile(r"^u\d+")


def _is_array_operator(v) -> bool:
    # oplog_v2_converter.go:18-46
    if not isinstance(v, dict) or not v:
        return False
    if "a" not in v:
        return False
    return all(k == "a" or _ARRAY_IDX_RE.match(k) for k in v)


def _flat_object_keys(prefix: str, obj: dict) -> list[str]:
    # oplog_v2_converter.go:63-80
    acc: list[str] = []
    for k, v in obj.items():
        if isinstance(v, dict):
            if not v:
                acc.append(prefix + k)
            else:
                acc.extend(_flat_object_keys(prefix + k + ".", v))
        else:
            acc.append(prefix + k)
    return acc


def changed_fields_v2_deep_py(diff: dict, prefix: str = "") -> list[str]:
    """Exact port of getChangedFieldsFromOplogV2UpdateDeep
    (oplog_v2_converter.go:82-142); plain-python for the oracle and the UDF."""
    fields: list[str] = []
    for key, op in diff.items():
        if key in ("i", "u", "d"):
            if isinstance(op, dict):
                fields.extend(_flat_object_keys(prefix, op))
        elif _is_array_operator(op):
            for ak in op:
                if ak != "a":
                    fields.append(prefix + key[1:] + "." + ak[1:])
        elif key.startswith("s"):
            if isinstance(op, dict):
                fields.extend(changed_fields_v2_deep_py(op, prefix + key[1:] + "."))
        elif key == "a":
            continue
        # anything else: unprocessable, skipped (metric in the reference)
    return fields


@pandas_udf(ArrayType(StringType()))
def _v2_deep_udf(doc_json: pd.Series) -> pd.Series:
    def one(s):
        if s is None:
            return []
        try:
            doc = json.loads(s)
        except (ValueError, TypeError):
            return []
        if not isinstance(doc, dict):
            # malformed input is tolerated, never fatal
            # (reference metricUnprocessableChangedFields path)
            return []
        diff = doc.get("diff")
        if not isinstance(diff, dict):
            return []
        return changed_fields_v2_deep_py(diff, "")

    return doc_json.map(one)


def changed_fields_v2_deep(doc_json: Column) -> Column:
    return _v2_deep_udf(doc_json)


# --------------------------------------------------------------------------
# dispatcher — oplogEntry.go:93-137 ChangedFields()
# --------------------------------------------------------------------------
def changed_fields(op: Column, doc_json: Column, deep: bool = False) -> Column:
    """fields for one event: op ∈ {i,u,d}, doc_json = the o-document JSON.

    insert / replacement-update → top-level doc keys
    v2 modifier update          → shallow or deep diff extraction
    v1 modifier update          → modifier-subtree keys
    delete                      → []
    """
    v2 = changed_fields_v2_deep(doc_json) if deep else changed_fields_v2_shallow(doc_json)
    return (
        F.when(op == F.lit("i"), _top_level_keys(doc_json))
        .when((op == F.lit("u")) & update_is_replace(doc_json), _top_level_keys(doc_json))
        .when((op == F.lit("u")) & is_v2_update(doc_json), v2)
        .when(op == F.lit("u"), changed_fields_v1_modifier(doc_json))
        .otherwise(F.array().cast("array<string>"))
    )
