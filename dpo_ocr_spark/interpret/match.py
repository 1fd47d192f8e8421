"""Dictionary matching + interpretation stages (SURVEY.md §3.2 stages 3-9).

Scale design: the reference cross-scores every block against every
gazetteer/taxonomy name with row-wise pandas .apply
(block_identification.py:249, 261, 294).  The naive Spark translation is a
crossJoin + window argmax — an |blocks| × |dims| row explosion plus a
shuffle.  Since the dims are small (10⁴-10⁵ names) we instead ship them as
a Spark broadcast variable into an Arrow-batched ``mapInPandas`` and
compute the per-block argmax *inside the batch*: no row explosion, no
shuffle, and the candidate n-grams (C9) never leave the batch either.
A length-bound prune (ratio_upper_bound) skips pairs that cannot reach the
accept threshold, and each dictionary name's match-mask table
(``fuzzy.Pattern``) is built once per task.  ``interpret_all`` runs each
of its five kernels (dates, localities, taxonomy, collector, fallback)
exactly once per call: the locality family is derived in the same pass as
the matched rows, and the stage outputs' two readers share one shuffle.

Determinism pins (the reference iterates DB rows in unspecified order; we
pin explicit orders and document them):
- the reference's block query returns line-grain rows that all upsert the
  same (url, block, data_type) key; we pin last-writer-wins to the highest
  word_line (reading order), via ``dedup_line_grain``;
- tie-breaks on equal scores follow the reference's stable pandas sorts:
  first occurrence in dictionary order (localities), highest sortorder
  then dictionary order (taxonomy, block_identification.py:295);
- collector's other-field subtraction applies in data_type ASC order;
- ON CONFLICT semantics (:49): a later-stage row for an existing
  (url, block, data_type) key updates ONLY interpreted_value and
  verbatim_value — data_format/data_source/match_score keep their first
  values.  Reproduced in ``merge_fields``.
"""

from __future__ import annotations

import re as _re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from pyspark.sql import types as T

from ..schemas import FIELD
from .dates import alpha_of, interpret_block
from .dims import COLLECTOR_STRINGS
from .fuzzy import (
    Pattern,
    _sorted_tokens,
    _trigram_list,
    ratio_upper_bound,
    token_sort_ratio,
    word_similarity_pre,
    word_similarity_upper_bound,
)

SIM_THRESHOLD = 80  # settings.py.template:27
WORD_SIM_THRESHOLD = 0.8  # block_identification.py:362

# stage output: FIELD columns + the originating word_line (used only for
# deterministic last-writer-wins dedup, then dropped)
FIELD_WL = T.StructType(
    list(FIELD.fields) + [T.StructField("word_line", T.IntegerType(), True)]
)
_COLS = [f.name for f in FIELD_WL.fields]


def _emit(rows: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=_COLS)


# ---------------------------------------------------------------------------
# Stage: date/elevation cascade (C2-C6)
# ---------------------------------------------------------------------------


def interpret_dates(
    blocks: DataFrame, collector_strings: tuple[str, ...] = COLLECTOR_STRINGS
) -> DataFrame:
    def dates_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list[tuple] = []
            for url, block, wl, text in zip(
                pdf["url"], pdf["block"], pdf["word_line"], pdf["block_text"]
            ):
                r = interpret_block(text, collector_strings)
                if r is not None:
                    dt, fmt, iv, vv = r
                    rows.append(
                        (url, int(block), dt, fmt, iv, vv, "", 0.0, int(wl))
                    )
            yield _emit(rows)

    return blocks.mapInPandas(dates_kernel, schema=FIELD_WL)


# ---------------------------------------------------------------------------
# Stage: locality match (J6 ×2 — name level then best-substring level)
# ---------------------------------------------------------------------------


def match_localities(
    spark: SparkSession, blocks: DataFrame, gazetteer: DataFrame
) -> DataFrame:
    dims = [(r["name"], r["name_type"], r["uid"]) for r in gazetteer.collect()]
    bc = spark.sparkContext.broadcast(dims)

    def localities_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # token-sorted form and match-mask table of each dictionary name,
        # built once per task
        names = [
            (name, Pattern(_sorted_tokens(name)), name_type, uid)
            for name, name_type, uid in bc.value
        ]
        for pdf in it:
            rows: list[tuple] = []
            for url, block, wl, text in zip(
                pdf["url"], pdf["block"], pdf["word_line"], pdf["block_text"]
            ):
                bt = _sorted_tokens(text)
                lbt = len(bt)
                best_score, best = -1, None
                for name, pat, name_type, uid in names:
                    # prune: can't strictly beat current best nor reach the
                    # accept threshold → skip (argmax over ≥threshold
                    # candidates is exact; sub-threshold never emits)
                    ub = ratio_upper_bound(lbt, len(pat.text))
                    if ub <= best_score or ub < SIM_THRESHOLD:
                        continue
                    s = pat.ratio(bt)
                    if s > best_score:  # stable: first occurrence wins ties
                        best_score, best = s, (name, name_type, uid)
                if best is None or best_score < SIM_THRESHOLD:
                    continue
                name, name_type, _ = best
                # best-substring re-match (C9, block_identification.py:254-262)
                ns_best = Pattern(_sorted_tokens(name))
                words = text.split(" ")
                sub_best, sub_text = -1, text
                for i in range(len(words)):
                    for j in range(i + 1, len(words) + 1):
                        cand = " ".join(words[i:j])
                        cs = _sorted_tokens(cand)
                        if ratio_upper_bound(len(ns_best.text), len(cs)) <= sub_best:
                            continue
                        s = ns_best.ratio(cs)
                        if s > sub_best:  # stable: generation order on ties
                            sub_best, sub_text = s, cand
                rows.append(
                    (url, int(block), "verbatim_locality", name_type, name,
                     sub_text, "", 0.0, int(wl))
                )
            yield _emit(rows)

    return blocks.mapInPandas(localities_kernel, schema=FIELD_WL)


def locality_family(
    loc_fields: DataFrame, blocks: DataFrame, hierarchy: DataFrame
) -> DataFrame:
    """``loc_fields`` plus the golden schema's locality family derived from
    each matched gazetteer entry (database/transcription_ento.sql:6-10;
    the reference's geo passes carry the matched row's name_1/name_0
    hierarchy, auto_id_compare.py:500-510, 637, 720):

    - ``district_county`` / ``state_territory`` / ``country``: the admin
      hierarchy of the matched (name, name_type) — broadcast join against
      ``dims.gazetteer_hierarchy`` (≤ 530 rows), all JVM-side;
    - ``precise_locality``: the block text with the matched verbatim
      substring removed (literal replace + trim) — the un-gazetteered
      remainder, emitted only when non-empty.

    Derived rows come only from ``verbatim_locality`` rows with a
    hierarchy entry; every input row passes through unchanged.  Each input
    row becomes an array of itself and its derived rows, exploded in one
    projection, so ``loc_fields`` (a Python kernel's output) is read once.
    A union of the input with its expansion would read it twice, and the
    expansion's pushed-down filter and pruned columns would keep Spark
    from reusing the kernel's shuffle.  Output is unique per
    (url, block_id, data_type) when the input is and ``blocks`` has one
    row per (url, block)."""
    hit = F.col("_h_name").isNotNull()
    j = loc_fields.join(
        F.broadcast(
            hierarchy.select(
                F.col("name").alias("_h_name"),
                F.col("name_type").alias("_h_type"),
                F.col("district_county").alias("_h_county"),
                F.col("state_territory").alias("_h_state"),
                F.col("country").alias("_h_country"),
            )
        ),
        (F.col("data_type") == "verbatim_locality")
        & (F.col("interpreted_value") == F.col("_h_name"))
        & (F.col("data_format") == F.col("_h_type")),
        "left",
    ).join(
        blocks.select(
            "url", F.col("block").alias("block_id"), "block_text"
        ),
        ["url", "block_id"],
        "left",
    )
    remainder = F.trim(
        F.replace(F.col("block_text"), F.col("verbatim_value"), F.lit(""))
    )

    def row(dt, fmt, iv, vv, src, score):  # noqa: ANN001, ANN202
        return F.struct(
            dt.alias("data_type"), fmt.alias("data_format"),
            iv.alias("interpreted_value"), vv.alias("verbatim_value"),
            src.alias("data_source"), score.alias("match_score"),
        )

    def derived(dt, iv, fmt=None, vv=None):  # noqa: ANN001, ANN202
        return row(
            F.lit(dt), F.col("data_format") if fmt is None else fmt, iv,
            F.col("verbatim_value") if vv is None else vv,
            F.lit("gazetteer"), F.lit(0.0),
        )

    family = F.filter(
        F.array(
            derived("district_county", F.col("_h_county")),
            derived("state_territory", F.col("_h_state")),
            derived("country", F.col("_h_country")),
            derived("precise_locality", remainder,
                    F.lit("locality:precise"), remainder),
        ),
        lambda e: e["interpreted_value"].isNotNull()
        & (e["interpreted_value"] != ""),
    )
    own = row(
        F.col("data_type"), F.col("data_format"), F.col("interpreted_value"),
        F.col("verbatim_value"), F.col("data_source"), F.col("match_score"),
    )
    rows = F.when(hit, F.concat(F.array(own), family)).otherwise(F.array(own))
    return j.select("url", "block_id", F.explode(rows).alias("e")).select(
        "url", "block_id", "e.*"
    )


def expand_locality(
    loc_fields: DataFrame, blocks: DataFrame, hierarchy: DataFrame
) -> DataFrame:
    """The derived rows of ``locality_family`` alone: new FIELD rows (one
    per derived non-null value) for the ``verbatim_locality`` rows of
    ``loc_fields``."""
    loc = loc_fields.filter(F.col("data_type") == "verbatim_locality")
    return locality_family(loc, blocks, hierarchy).filter(
        F.col("data_type") != "verbatim_locality"
    )


# ---------------------------------------------------------------------------
# Stage: taxonomy match (U1 + J6 with sortorder tie-break)
# ---------------------------------------------------------------------------


def match_taxonomy(
    spark: SparkSession, blocks: DataFrame, taxonomy: DataFrame
) -> DataFrame:
    dims = [
        (r["sciname"], r["sortorder"], r["name_type"])
        for r in taxonomy.collect()  # already ORDER BY sciname, sortorder
    ]
    bc = spark.sparkContext.broadcast(dims)

    def taxonomy_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = [
            (sciname, Pattern(_sorted_tokens(sciname)), sortorder, name_type)
            for sciname, sortorder, name_type in bc.value
        ]
        for pdf in it:
            rows: list[tuple] = []
            for url, block, wl, text in zip(
                pdf["url"], pdf["block"], pdf["word_line"], pdf["block_text"]
            ):
                bt = _sorted_tokens(text)
                lbt = len(bt)
                # argmax by (score desc, sortorder desc, stable dict order)
                # — pandas sort_values(['score','sortorder'], ascending=False)
                # over a frame ordered by (sciname, sortorder)  (:293-295)
                best_key, best = None, None
                for idx, (sciname, pat, sortorder, name_type) in enumerate(names):
                    # NB no strict prune here: the tie-break on sortorder
                    # means an equal score can still displace the best, so
                    # only skip when the bound is strictly below both the
                    # current best score and the threshold
                    ub = ratio_upper_bound(lbt, len(pat.text))
                    if best_key is not None and (
                        ub < best_key[0] or ub < SIM_THRESHOLD
                    ):
                        continue
                    s = pat.ratio(bt)
                    key = (s, sortorder, -idx)
                    if best_key is None or key > best_key:
                        best_key, best = key, (sciname, name_type)
                if best_key is None or best_key[0] < SIM_THRESHOLD:
                    continue
                sciname, name_type = best
                rows.append(
                    (url, int(block), "taxonomy", name_type, sciname, "",
                     "", 0.0, int(wl))
                )
            yield _emit(rows)

    return blocks.mapInPandas(taxonomy_kernel, schema=FIELD_WL)


# catalog-number pattern; whitespace spelled explicitly (Java ∩ RE2 rule:
# \s includes \x0b in Java/Python but not RE2, so shared regexes never
# use it)
OTHER_NUMBERS_RE = r"No\.[ \t\n\x0b\f\r]*([0-9]+)"


def match_other_numbers(blocks: DataFrame) -> DataFrame:
    """Catalog-number rule for the golden ``other_numbers`` column
    (database/transcription_ento.sql:12).  The reference's date cascade
    explicitly SKIPS 'No.' blocks (block_identification.py:110-115) and
    the column is human-filled; this rule auto-extracts the digit run so
    the engine can populate it.  Pure JVM regexp — no Python, no
    shuffle."""
    num = F.regexp_extract("block_text", OTHER_NUMBERS_RE, 1)
    return blocks.filter(num != "").select(
        "url",
        F.col("block").cast("int").alias("block_id"),
        F.lit("other_numbers").alias("data_type"),
        F.lit("other_numbers").alias("data_format"),
        num.alias("interpreted_value"),
        F.col("block_text").alias("verbatim_value"),
        F.lit("").alias("data_source"),
        F.lit(0.0).alias("match_score"),
    )


# ---------------------------------------------------------------------------
# Stage: collector (F6 + J9 self-subtraction)
# ---------------------------------------------------------------------------


def match_collector(
    blocks: DataFrame,
    fields_so_far: DataFrame,
    collector_strings: tuple[str, ...] = COLLECTOR_STRINGS,
) -> DataFrame:
    # every column of the block's field rows, not just the two the kernel
    # reads: a pruned read of ``fields_so_far`` would differ from the
    # merge's read of it, and the stage kernels' shuffles below both would
    # then run twice instead of being reused.  Sorted by (data_type,
    # verbatim_value), the leading struct fields.
    values = ["data_type", "verbatim_value"] + [
        c for c in fields_so_far.columns
        if c not in ("url", "block_id", "data_type", "verbatim_value")
    ]
    others = fields_so_far.groupBy(
        F.col("url"), F.col("block_id").alias("block")
    ).agg(F.array_sort(F.collect_list(F.struct(*values))).alias("other_vals"))
    joined = blocks.join(others, ["url", "block"], "left")

    def collector_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list[tuple] = []
            for url, block, wl, text, other in zip(
                pdf["url"], pdf["block"], pdf["word_line"],
                pdf["block_text"], pdf["other_vals"],
            ):
                for coll in collector_strings:
                    if coll not in text:
                        continue
                    interpreted = text
                    if other is not None and len(other) > 0:
                        for item in other:  # data_type ASC (pinned order)
                            vv = item["verbatim_value"]
                            if vv and item["data_type"] != "collector":
                                interpreted = interpreted.replace(vv, "").strip()
                    interpreted = interpreted.replace(coll, "").strip()
                    # quirk :319-321 — skip when the remainder equals any
                    # collector string with itself removed
                    coll2 = [c.replace(interpreted, "") for c in collector_strings]
                    if interpreted in coll2:
                        continue
                    if len(interpreted) > 3:
                        rows.append(
                            (url, int(block), "collector", "collector",
                             interpreted, text, "", 0.0, int(wl))
                        )
                        break
            yield _emit(rows)

    return joined.mapInPandas(collector_kernel, schema=FIELD_WL)


# ---------------------------------------------------------------------------
# Stage: similarity fallback (C8 + F7 + T1)
# ---------------------------------------------------------------------------


SIM_DICT_CAP = 100_000  # semantic knob: top-N most frequent dictionary values


def similarity_fallback(
    spark: SparkSession,
    blocks: DataFrame,
    fields: DataFrame,
    dict_cap: int = SIM_DICT_CAP,
) -> DataFrame:
    """block_identification.py:330-364 — a block missing any known
    data_type gets the globally most word-similar existing
    interpreted_value (any data_type: the similarity_query at :342 has no
    type filter, and the inserted row takes the *matched* row's
    data_type).  Computed against the pre-fallback snapshot (the
    reference's insert-while-iterating feedback is order-dependent over an
    unspecified DB order; snapshot semantics is the deterministic batch
    equivalent).

    Scale shape: the snapshot is a DISTINCT (type, format, value)
    dictionary aggregated distributedly and bounded to the ``dict_cap``
    most frequent entries (TakeOrdered — never a full sort, never a
    corpus-sized collect; the fields table itself is corpus-sized at
    10¹² docs, its distinct dictionary is vocabulary-sized).  Below the
    cap semantics are exact; above it the least-frequent dictionary tail
    stops attracting fallback matches — a documented knob, not an OOM."""
    dict_rows = (
        fields.groupBy("data_type", "data_format", "interpreted_value")
        .agg(F.count("*").alias("freq"))
        .orderBy(
            F.col("freq").desc(),
            "data_type",
            "interpreted_value",
            "data_format",
        )
        .limit(dict_cap)
        .collect()
    )
    snapshot = [
        (r["data_type"], r["data_format"], r["interpreted_value"])
        for r in dict_rows
    ]
    snapshot.sort(key=lambda t: (t[0], t[2] or "", t[1] or ""))
    # the F7 existence guard needs every type, even one whose values all
    # fell out of the cap: a handful of distinct types, collected cheaply
    all_types = sorted(
        r[0] for r in fields.select("data_type").distinct().collect()
    )
    bc = spark.sparkContext.broadcast((snapshot, all_types))

    present = fields.groupBy(
        F.col("url"), F.col("block_id").alias("block")
    ).agg(F.collect_set("data_type").alias("present_types"))
    joined = blocks.join(present, ["url", "block"], "left")

    def fallback_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        snap_raw, types = bc.value
        # precompute trigram sets of the snapshot once per task
        snap = [
            (dt, fmt, frozenset(_trigram_list(iv)))
            for dt, fmt, iv in snap_raw
            if iv
        ]
        for pdf in it:
            rows: list[tuple] = []
            for url, block, wl, text, ptypes in zip(
                pdf["url"], pdf["block"], pdf["word_line"],
                pdf["block_text"], pdf["present_types"],
            ):
                have = set(ptypes) if ptypes is not None else set()
                if not (set(types) - have):
                    continue  # F7 existence guard: nothing missing
                alpha = alpha_of(text)
                if len(alpha) < 5 or len(_re.sub(r"\W+", "", text).strip()) < 5:
                    continue  # too short (:354)
                tb = _trigram_list(text)
                tb_set = frozenset(tb)
                best_sml, best = -1.0, None
                for dt, fmt, sa in snap:
                    ub = word_similarity_upper_bound(sa, tb_set)
                    if ub <= best_sml or ub <= WORD_SIM_THRESHOLD:
                        continue  # can't beat best / can't clear the gate
                    sml = word_similarity_pre(sa, tb)
                    if sml > best_sml:  # ties → first in pinned order
                        best_sml, best = sml, (dt, fmt)
                if best is not None and best_sml > WORD_SIM_THRESHOLD:
                    dt, fmt = best
                    rows.append(
                        (url, int(block), dt, fmt, text, text,
                         "similarity", float(best_sml), int(wl))
                    )
            yield _emit(rows)

    return joined.mapInPandas(fallback_kernel, schema=FIELD_WL)


# ---------------------------------------------------------------------------
# Upsert semantics + full pipeline
# ---------------------------------------------------------------------------


def dedup_line_grain(fields_wl: DataFrame) -> DataFrame:
    """Line-grain rows share (url, block): keep the highest word_line
    (last writer in reading order), then drop the helper column."""
    w = W.partitionBy("url", "block_id", "data_type").orderBy(
        F.col("word_line").desc()
    )
    return (
        fields_wl.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "word_line")
    )


def merge_fields(base: DataFrame, update: DataFrame) -> DataFrame:
    """ON CONFLICT (url, block_id, data_type) DO UPDATE SET
    interpreted_value, verbatim_value (:49) — only those two columns take
    the new row's values; the rest keep the base row's."""
    key = ["url", "block_id", "data_type"]
    upd = update.select(
        *key,
        F.col("interpreted_value").alias("_new_iv"),
        F.col("verbatim_value").alias("_new_vv"),
        F.col("data_format").alias("_new_fmt"),
        F.col("data_source").alias("_new_src"),
        F.col("match_score").alias("_new_score"),
    )
    return base.join(upd, key, "full_outer").select(
        *key,
        F.coalesce("data_format", "_new_fmt").alias("data_format"),
        F.coalesce("_new_iv", "interpreted_value").alias("interpreted_value"),
        F.coalesce("_new_vv", "verbatim_value").alias("verbatim_value"),
        F.coalesce("data_source", "_new_src").alias("data_source"),
        F.coalesce("match_score", "_new_score").alias("match_score"),
    )


def interpret_all(
    spark: SparkSession,
    blocks: DataFrame,
    gazetteer: DataFrame,
    taxonomy: DataFrame,
    collector_strings: tuple[str, ...] = COLLECTOR_STRINGS,
    with_fallback: bool = True,
    hierarchy: DataFrame | None = None,
) -> DataFrame:
    """Full §3.2 pipeline: dates → localities (→ admin-hierarchy
    expansion when a hierarchy dim is given) → taxonomy → collector →
    similarity fallback, merged with reference upsert semantics.

    Each Python kernel runs once per call.  The dates, localities and
    taxonomy outputs are read twice (by the collector and by the merge),
    through identical shuffles that adaptive execution reuses; only the
    pre-fallback merge, which the fallback reads four times, is cached.
    ``blocks`` is deliberately not cached here: each scan of a cached
    relation becomes its own query stage, and the shuffles above two such
    stages no longer match, so every kernel above them would run again."""
    dates = dedup_line_grain(interpret_dates(blocks, collector_strings))
    locs = dedup_line_grain(match_localities(spark, blocks, gazetteer))
    if hierarchy is not None:
        locs = locality_family(locs, blocks, hierarchy)
    taxo = dedup_line_grain(match_taxonomy(spark, blocks, taxonomy))
    base = merge_fields(merge_fields(dates, locs), taxo)
    coll = dedup_line_grain(match_collector(blocks, base, collector_strings))
    merged = merge_fields(base, coll)
    if not with_fallback:
        return merged
    merged = merged.cache()
    fb = dedup_line_grain(similarity_fallback(spark, blocks, merged))
    return merge_fields(merged, fb)
