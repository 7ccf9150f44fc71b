"""Per-document resume extraction: the fused mapInArrow pass.

`extract_all_fused_op` is the only extraction implementation: classify,
layout inference, section FSM and entity extraction run in ONE
mapInArrow crossing over the shared `semantics.py` code the oracle
runs; contact / summary / certifications are native Catalyst
projections over the returned sections struct. Batch, streaming,
checkpoint and `entry()` all reach it through
`plans.pipeline.extract_pipeline`.

The small ontology dims are module globals, built once per Python
worker when it imports this module (the pass body ships by reference;
at cluster scale they'd be sc.broadcast). Zero shuffles: every
extraction is doc-local. The explode->broadcast-join->groupBy
formulation of skill normalization exists in operators/normalize.py for
relational use; this pass keeps the hot path narrow (SURVEY §2.10 U3
short-circuit: exact dict hit first, fuzzy only on miss).

Reference behavior: entity_extractor.py:49-286 minus NER (SURVEY §7.3
determinism), certifications from the certifications section (CLI path,
main.py:121).
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import semantics as S
from ..corpus import SKILLS_ONTOLOGY
from ..functions.contact import contact_struct
from ..functions.text import summary_col, split_entries_col
from ..oracle import build_skill_index, classify_and_emit
from .layout import SPAN_TYPE
from .sections import SECTIONS_TYPE, sections_of_span_list

_LOWER, _V2C, _INDEX = build_skill_index(SKILLS_ONTOLOGY)
# Worker-lifetime memos. Only module-level functions read them, and
# cloudpickle ships a module-level function BY REFERENCE: the worker
# re-imports this module and gets these very dicts, so they live as long
# as the reused Python worker (across batches, tasks and jobs). A nested
# closure would be shipped by value with a fresh copy per task.
# phrase -> normalized skill (bounded at 200k; see
# semantics.normalize_skill)
_MEMO: dict = {}
# section text -> entries (bounded at 50k; see _memoed): education/
# projects section TEXTS repeat heavily on template-shaped corpora
# (measured 41%/50% distinct across 4k docs) and the extractors are pure
# functions of the text, so a content-keyed dict skips the whole parse on
# a repeat; on corpora with no repeats the cost is one dict miss per doc.
_EDU_MEMO: dict = {}
_PROJ_MEMO: dict = {}

EDUCATION_TYPE = T.ArrayType(T.StructType([
    T.StructField("institution", T.StringType()),
    T.StructField("degree", T.StringType()),
    T.StructField("field_of_study", T.StringType()),
    T.StructField("start_date", T.DateType()),
    T.StructField("end_date", T.DateType()),
    T.StructField("description", T.StringType()),
    T.StructField("gpa", T.DoubleType()),
    T.StructField("achievements", T.ArrayType(T.StringType())),
]))
EXPERIENCE_TYPE = T.ArrayType(T.StructType([
    T.StructField("company", T.StringType()),
    T.StructField("position", T.StringType()),
    T.StructField("start_date", T.StringType()),
    T.StructField("end_date", T.StringType()),
    T.StructField("description", T.StringType()),
    T.StructField("technologies", T.ArrayType(T.StringType())),
    T.StructField("duration_months", T.IntegerType()),
]))
PROJECTS_TYPE = T.ArrayType(T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("description", T.StringType()),
    T.StructField("technologies", T.ArrayType(T.StringType())),
]))


@pandas_udf(EDUCATION_TYPE)
def _education_udf(text: pd.Series) -> pd.Series:
    """Education entries of one section text. Its one user is the
    `resume_entities` query, which oracles the extractor alone;
    the pipeline runs the same semantics inside extract_all_fused_op."""
    return text.apply(lambda t: S.extract_education_entries(t or ""))


@pandas_udf(EXPERIENCE_TYPE)
def _experience_udf(text: pd.Series) -> pd.Series:
    """Experience entries of one section text. Its one user is the
    `resume_entities` query (see _education_udf)."""
    return text.apply(lambda t: _experience_entries(t or ""))


def _experience_entries(text: str) -> list[dict]:
    # module-level so the by-value pandas_udf body above reaches the
    # worker-lifetime _MEMO, not a per-task copy of it
    return S.extract_experience_entries(
        text, skill_lower_index=_LOWER, skill_var2canon=_V2C,
        skill_index=_INDEX, memo=_MEMO)


def _project_entries(text: str) -> list[dict]:
    return S.extract_project_entries(
        text, skill_lower_index=_LOWER, skill_var2canon=_V2C,
        skill_index=_INDEX, memo=_MEMO)


def _memoed(memo: dict, key: str, fn):
    hit = memo.get(key)
    if hit is None and key not in memo:
        hit = fn(key)
        if len(memo) > 50_000:
            memo.clear()
        memo[key] = hit
    return hit


def _extract_batches(batches, id_col: str, spans_col: str, pa_schema):
    """The body of the fused pass: (id, raw spans) Arrow batches in,
    one batch of extraction columns (`pa_schema`) out per batch."""
    import pyarrow as pa

    for b in batches:
        ids = b.column(id_col).to_pylist()
        # span decode via FLAT child arrays: one to_pylist per primitive
        # child + one C-speed zip, then per-doc slices of the flat dict
        # list — measured 226 -> 80 us/doc vs ListArray.to_pylist's
        # nested dict materialization (~12% of the whole warm per-doc
        # budget). Null spans rows keep the None contract via the
        # validity bitmap.
        sc = b.column(spans_col)
        sv = sc.values
        flat = [
            {"kind": k, "text": tx, "media_ref": m, "offset": o}
            for k, tx, m, o in zip(
                sv.field("kind").to_pylist(),
                sv.field("text").to_pylist(),
                sv.field("media_ref").to_pylist(),
                sv.field("offset").to_pylist(),
            )
        ]
        offs = sc.offsets.to_pylist()
        if sc.null_count:
            valid = [v.is_valid for v in sc]
            spans_in = [
                flat[offs[i]:offs[i + 1]] if valid[i] else None
                for i in range(len(sc))
            ]
        else:
            spans_in = [flat[offs[i]:offs[i + 1]] for i in range(len(sc))]
        cols: dict[str, list] = {name: [] for name in pa_schema.names}
        for did, arr in zip(ids, spans_in):
            if arr is None:
                # null spans contract: empty clean_spans, NULL metrics,
                # empty sections
                clean, kept, dropped = [], None, None
            else:
                clean, kept, dropped = classify_and_emit(arr)
            secs = sections_of_span_list(clean)
            cols[id_col].append(did)
            cols["clean_spans"].append(clean)
            cols["blocks_kept"].append(kept)
            cols["blocks_dropped"].append(dropped)
            cols["sections"].append(secs)
            cols["skills"].append(S.extract_skills(
                secs.get("skills") or "", _LOWER, _V2C, _INDEX, memo=_MEMO))
            cols["education"].append(_memoed(
                _EDU_MEMO, secs.get("education") or "",
                S.extract_education_entries))
            cols["experience"].append(
                _experience_entries(secs.get("experience") or ""))
            cols["projects"].append(_memoed(
                _PROJ_MEMO, secs.get("projects") or "", _project_entries))
        yield pa.record_batch(
            [pa.array(cols[f.name], type=f.type) for f in pa_schema],
            schema=pa_schema,
        )


def extract_all_fused_op(df: DataFrame, spans_col: str = "spans",
                         id_col: str = "doc_id") -> DataFrame:
    """Whole-pipeline fused Python pass: classify + layout + section FSM
    + entity extraction in ONE mapInArrow crossing, RAW spans in, final
    extraction columns out, then native contact/summary/certifications
    projections over the sections struct.

    Why one Python pass and no native classify: measured at 200k docs /
    32 cores, a native classify HOF tree (interpreted transform/filter
    per span) plus pandas_udf nested-struct serialization cost ~15-16 s
    wall while the pure-Python shared-semantics path runs ~3,000
    docs/s/core warm — the plan was paying more to AVOID Python than the
    Python costs. mapInArrow hands whole Arrow batches to the same
    semantics the oracle runs, so golden parity holds by construction.
    The pass body is the module-level `_extract_batches`, handed over as
    a functools.partial: cloudpickle ships a module-level function by
    reference, so the worker uses this module's own memos (_MEMO,
    _EDU_MEMO, _PROJ_MEMO), which survive across batches, tasks and jobs
    in a reused worker. Output carries only id +
    extraction columns — select upstream columns you need before calling.
    Works on streaming DataFrames too (a per-batch narrow map).
    """
    id_field = df.schema[id_col]
    out_type = T.StructType([
        T.StructField(id_col, id_field.dataType, id_field.nullable),
        T.StructField("clean_spans", SPAN_TYPE),
        T.StructField("blocks_kept", T.IntegerType()),
        T.StructField("blocks_dropped", T.IntegerType()),
        T.StructField("sections", SECTIONS_TYPE),
        T.StructField("skills", T.ArrayType(T.StringType())),
        T.StructField("education", EDUCATION_TYPE),
        T.StructField("experience", EXPERIENCE_TYPE),
        T.StructField("projects", PROJECTS_TYPE),
    ])
    from pyspark.sql.pandas.types import to_arrow_schema
    pa_schema = to_arrow_schema(out_type)

    fused = functools.partial(_extract_batches, id_col=id_col,
                              spans_col=spans_col, pa_schema=pa_schema)
    out = df.select(id_col, spans_col).mapInArrow(fused, out_type)
    sec = F.col("sections")
    return (
        out.withColumn("contact", contact_struct(sec["contact"]))
        .withColumn("summary",
                    summary_col(F.coalesce(sec["summary"], F.lit(""))))
        .withColumn(
            "certifications",
            split_entries_col(F.coalesce(sec["certifications"], F.lit(""))),
        )
    )
