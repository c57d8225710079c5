"""Driver-contract support: documents→transcripts mapping + exact-BM25 DuckDB SQL.

The driver's correctness gate (CORRECTNESS_r{N}.json) runs each Spark query
side-by-side with an ANSI-SQL oracle on DuckDB over the same parquet tables.
This module generates SQL that reproduces the engine's scores *bit-exactly in
float32*: DuckDB REAL arithmetic is IEEE float32 (verified empirically), so
emitting every intermediate with explicit REAL casts in the same operation
order as the scorer (BM25Similarity.cs:246-264 — see oracle.py) yields
identical bits. The byte315 norm quantization (SmallFloat.cs:146-159) enters
SQL as a ~160-row (fieldLength-run → NORM_TABLE value) lookup generated from
the same numpy code the engine uses.

Input mapping: the gate tables carry `documents(doc_id, text, ...)`; the
engine's native input is the transcript shape (BASELINE.json input_hint), so
both sides derive the SAME deterministic transcript view:
  conv_id  = 'conv-%08d' % (doc_id div 4)   (4-turn conversations)
  turn_idx = doc_id % 4
  role     = [user, assistant, tool][doc_id % 3]
docID = dense rank over (conv_id, turn_idx) == rank of doc_id — so the SQL
side can use row_number() over doc_id while the engine runs its real
two-pass docid assignment over (conv_id, turn_idx).
"""
from __future__ import annotations

import hashlib
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.analysis import (
    ENGLISH_STOP_WORDS,
    MAX_TOKEN_LENGTH,
    TOKEN_PATTERN_RE2_SQL,
)
from .functions.smallfloat import (
    DECODE_TABLE,
    NORM_TABLE,
    norm_length_byte_boundaries,
)

K1, B = 1.2, 0.75

# ---------------------------------------------------------------------------
# Spark side: documents -> transcript view, cached index build
# ---------------------------------------------------------------------------


# -- spatial gate corpus (Lucene.Net.Spatial) --------------------------------
# Deterministic point per doc, derived with integer arithmetic + one double
# division so the DuckDB oracle reproduces the exact f64 values:
#   lon in [-170, 170) step 0.01, lat in [-70, 70) step 0.01
LON_EXPR = "CAST((doc_id * 104729) % 34000 AS DOUBLE) / 100.0 - 170.0"
LAT_EXPR = "CAST((doc_id * 7919) % 14000 AS DOUBLE) / 100.0 - 70.0"
GEO_MAX_LEVELS = 7  # geohash tree depth for the gate index
QUAD_MAX_LEVELS = 11  # quad tree depth for the gate index


def geo_strategy():
    """The gate RecursivePrefixTreeStrategy (geohash, field 'geo')."""
    from .functions.geo import GeohashPrefixTree
    from .operators.spatial import RecursivePrefixTreeStrategy

    return RecursivePrefixTreeStrategy(
        GeohashPrefixTree(GEO_MAX_LEVELS), "geo"
    )


def quad_strategy():
    """The gate RecursivePrefixTreeStrategy (quad tree, field 'geoq')."""
    from .functions.geo import QuadPrefixTree
    from .operators.spatial import RecursivePrefixTreeStrategy

    return RecursivePrefixTreeStrategy(
        QuadPrefixTree(QUAD_MAX_LEVELS), "geoq"
    )


def transcripts_from_documents(
    spark: SparkSession, sf_dir: str, with_geo: bool = False
) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    # the spatial gate corpus (with_geo): the transcript shape + a point per
    # turn (lon/lat DoubleFields) + the two prefix-tree token chains
    # (PrefixTreeStrategy.CreateIndexableFields)
    geo_cols = (
        [F.expr(LON_EXPR).alias("lon"), F.expr(LAT_EXPR).alias("lat")]
        if with_geo
        else []
    )
    out = docs.select(
        F.format_string("conv-%08d", F.expr("CAST(doc_id DIV 4 AS BIGINT)")).alias("conv_id"),
        (F.col("doc_id") % 4).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
            (F.col("doc_id") % 3).cast("int") + 1,
        ).alias("role"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        F.when((F.col("doc_id") % 3) == 2, F.col("source")).alias("tool"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)"
        ).alias("ts"),
        *geo_cols,
    ).withColumn(
        # multi-valued keyword field (SortedSet shape): [role] or
        # [role, tool] — exercises the array<string> keyword-indexing path
        "labels",
        F.array_compact(F.array("role", "tool")),
    )
    if with_geo:
        out = out.withColumn(
            "geo", geo_strategy().indexable_terms("lon", "lat")
        ).withColumn("geoq", quad_strategy().indexable_terms("lon", "lat"))
    return out


_INDEX_CACHE: dict[str, str] = {}


def ensure_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once, resumably) the index for a gate sf_dir; returns index dir."""
    if sf_dir in _INDEX_CACHE:
        return _INDEX_CACHE[sf_dir]
    from .operators.index_build import IndexBuilder

    # ship the package to python workers even if the driver created the
    # session without our session.py (spark-submit --py-files equivalent)
    _add_pyfiles(spark)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    out = os.path.join("/tmp/lucenenet_entry", f"idx_{tag}")
    # stale-format guard: a cached index from an older layout must rebuild
    mpath = os.path.join(out, "_manifest.json")
    if os.path.exists(mpath):
        import json
        import shutil

        with open(mpath) as f:
            m = json.load(f)
        # stale if the layout version moved OR the multi-valued keyword
        # field is missing (indexes cached before round 5)
        if m.get("format_version") != 5 or "labels" not in m.get("fields", {}):
            shutil.rmtree(out, ignore_errors=True)
    IndexBuilder(
        spark, out, k1=K1, b=B, n_buckets=8, n_segments=8, salt_target=2000,
        # gate indexes carry the full 4th IndexOptions level so the
        # offset-highlighting gate runs against indexed char offsets
        index_options="docs_freqs_positions_offsets",
        # per-occurrence payload channel for the payload_term gates: the
        # position_float provider writes f32(position+1), mirrorable in SQL
        payload_provider="position_float",
        keyword_fields=("role", "tool", "labels"),
    ).build(transcripts_from_documents(spark, sf_dir), build_id=f"gate-{tag}")
    _INDEX_CACHE[sf_dir] = out
    return out


_GEO_INDEX_CACHE: dict[str, str] = {}


def ensure_spatial_index(spark: SparkSession, sf_dir: str) -> str:
    """The spatial gate index: the geohash + quad cell chains as
    multi-valued keyword fields (PrefixTreeStrategy FIELD_TYPE is
    DOCS_ONLY/omitNorms) and the lon/lat DoubleField pair as numeric doc
    columns (PointVectorStrategy). Separate from the main gate index so
    the benchmark's build-throughput measurement stays comparable across
    rounds."""
    if sf_dir in _GEO_INDEX_CACHE:
        return _GEO_INDEX_CACHE[sf_dir]
    from .operators.index_build import IndexBuilder

    _add_pyfiles(spark)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    out = os.path.join("/tmp/lucenenet_entry", f"idxgeo_{tag}")
    mpath = os.path.join(out, "_manifest.json")
    if os.path.exists(mpath):
        import json
        import shutil

        with open(mpath) as f:
            m = json.load(f)
        if (
            m.get("format_version") != 5
            or "geoq" not in m.get("fields", {})
            or m.get("numeric_fields") != ["lon", "lat"]
        ):
            shutil.rmtree(out, ignore_errors=True)
    IndexBuilder(
        spark, out, k1=K1, b=B, n_buckets=8, n_segments=8, salt_target=2000,
        index_options="docs_freqs",
        keyword_fields=("role", "geo", "geoq"),
        numeric_fields=("lon", "lat"),
    ).build(
        transcripts_from_documents(spark, sf_dir, with_geo=True),
        build_id=f"geo-{tag}",
    )
    _GEO_INDEX_CACHE[sf_dir] = out
    return out


_STEM_INDEX_CACHE: dict[str, str] = {}


def ensure_analyzer_index(
    spark: SparkSession, sf_dir: str, analyzer: str
) -> str:
    """Like ensure_index, but the analysis chain is the named analyzer slot
    ("english" Porter, "german" normalization+light stem, "swedish" light
    stem) — the language-analyzer gates query these indexes."""
    key = (sf_dir, analyzer)
    if key in _STEM_INDEX_CACHE:
        return _STEM_INDEX_CACHE[key]
    from .operators.index_build import IndexBuilder

    _add_pyfiles(spark)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    safe = "".join(c if c.isalnum() else "_" for c in analyzer)
    suffix = "" if analyzer == "english" else f"_{safe}"
    out = os.path.join("/tmp/lucenenet_entry", f"idxstem{suffix}_{tag}")
    mpath = os.path.join(out, "_manifest.json")
    if os.path.exists(mpath):
        import json
        import shutil

        with open(mpath) as f:
            m = json.load(f)
        if m.get("format_version") != 5 or m.get("analyzer") != analyzer:
            shutil.rmtree(out, ignore_errors=True)
    IndexBuilder(
        spark, out, k1=K1, b=B, n_buckets=8, n_segments=8, salt_target=2000,
        analyzer=analyzer,
    ).build(
        transcripts_from_documents(spark, sf_dir),
        build_id=f"gate-{analyzer}-{tag}",
    )
    _STEM_INDEX_CACHE[key] = out
    return out


def ensure_stemmed_index(spark: SparkSession, sf_dir: str) -> str:
    return ensure_analyzer_index(spark, sf_dir, "english")


SWEET_NORM_SPEC = "sweetspot:3:10:0.5"  # plateau 3..10, steepness 0.5
_SWEET_INDEX_CACHE: dict[str, str] = {}


def ensure_sweet_index(spark: SparkSession, sf_dir: str) -> str:
    """Like ensure_index, but the norm bytes carry SweetSpotSimilarity's
    plateau ComputeLengthNorm (an index-time Similarity choice — the
    sweetspot gates query this index)."""
    if sf_dir in _SWEET_INDEX_CACHE:
        return _SWEET_INDEX_CACHE[sf_dir]
    from .operators.index_build import IndexBuilder

    _add_pyfiles(spark)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    out = os.path.join("/tmp/lucenenet_entry", f"idxsweet_{tag}")
    mpath = os.path.join(out, "_manifest.json")
    if os.path.exists(mpath):
        import json
        import shutil

        with open(mpath) as f:
            m = json.load(f)
        if m.get("format_version") != 5 or m.get("norm_spec") != SWEET_NORM_SPEC:
            shutil.rmtree(out, ignore_errors=True)
    IndexBuilder(
        spark, out, k1=K1, b=B, n_buckets=8, n_segments=8, salt_target=2000,
        norm_spec=SWEET_NORM_SPEC,
    ).build(
        transcripts_from_documents(spark, sf_dir),
        build_id=f"gate-sweet-{tag}",
    )
    _SWEET_INDEX_CACHE[sf_dir] = out
    return out


def _add_pyfiles(spark: SparkSession) -> None:
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # key the zip on source content so executors never run stale code after
    # an edit (a fixed path would be reused across rounds/sessions)
    srcs = sorted(
        os.path.join(root, fn)
        for root, _dirs, files in os.walk(pkg_dir)
        for fn in files
        if fn.endswith(".py")
    )
    h = hashlib.md5()
    for full in srcs:
        h.update(full.encode())
        with open(full, "rb") as f:
            h.update(f.read())
    zpath = f"/tmp/lucenenet_entry/lucenenet_spark_{h.hexdigest()[:12]}.zip"
    os.makedirs(os.path.dirname(zpath), exist_ok=True)
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for full in srcs:
                rel = os.path.join("lucenenet_spark", os.path.relpath(full, pkg_dir))
                z.write(full, rel)
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception:
        pass  # already added, or local mode where PYTHONPATH suffices


# ---------------------------------------------------------------------------
# DuckDB SQL generation (float32-exact)
# ---------------------------------------------------------------------------


def _f32lit(x) -> str:
    """A literal that is exactly the given float32 value as DuckDB REAL."""
    return f"CAST(CAST({float(np.float32(x))!r} AS DOUBLE) AS REAL)"


K1P1_32 = _f32lit(np.float32(K1) + np.float32(1.0))  # k1+1 in float32
K1_32 = _f32lit(K1)
B_32 = _f32lit(B)
ONE_MINUS_B_32 = _f32lit(np.float32(1.0) - np.float32(B))


def _norm_values_rows(max_len: int = 1 << 20) -> str:
    """(lo, hi, byte, bm25_norm_value, classic_decode_value) rows covering
    fieldLength 0..max_len."""
    rows = [
        f"(0, 0, 255, {_f32lit(NORM_TABLE[255])}, {_f32lit(DECODE_TABLE[255])})"
    ]
    for byte, lo, hi in norm_length_byte_boundaries(max_len):
        rows.append(
            f"({lo}, {hi}, {byte}, {_f32lit(NORM_TABLE[byte])},"
            f" {_f32lit(DECODE_TABLE[byte])})"
        )
    return ",\n    ".join(rows)


def _sql_quoted_list(words) -> str:
    """Comma-joined SQL string literals; apostrophes doubled (the Catalan
    stop set carries word-internal apostrophes: d'un, li'n, s'ha ...)."""
    return ", ".join("'{}'".format(w.replace("'", "''")) for w in sorted(words))


def _irish_pre_sql(e: str) -> str:
    """The Irish raw-PRE stages over one RAW token expression:
    hyphenations stop ('' sentinel, in the stop list), case-insensitive
    d'/m'/b' elision at a first-position apostrophe, then the
    IrishLowerCaseFilter prothesis ('n'/'t' + UPPERCASE vowel inserts
    '-') and lowercase. Mirrors functions/snowball.irish_pre."""
    x = f"regexp_replace({e}, '^[dDmMbB][''\u2019]', '')"
    return (
        f"CASE WHEN lower({e}) IN ('h','n','t') THEN '' "
        f"WHEN regexp_matches({x}, '^[nt][AEIOU\u00c1\u00c9\u00cd\u00d3\u00da]') "
        f"THEN left({x},1) || '-' || lower(substr({x},2)) "
        f"ELSE lower({x}) END"
    )


def _tokens_expr(text_expr: str, analyzer: str = "standard") -> str:
    from .functions.analysis import elision_articles, elision_sql, stop_words

    stop_list = _sql_quoted_list(stop_words(analyzer))
    src = f"COALESCE({text_expr}, '')"
    if split_analyzer_base(analyzer) == "persian":
        # PersianCharFilter.cs: ZWNJ -> space ahead of the tokenizer
        src = f"replace({src}, '\u200c', ' ')"
    if split_analyzer_base(analyzer) == "turkish":
        # TurkishLowerCaseFilter's \u0130/I folds at the text level (mirrors
        # functions/turkish.turkish_fold, same order: \u0130, I+dots, bare I)
        src = (
            f"replace(regexp_replace(replace({src}, '\u0130', 'i'), "
            f"'I\u0307+', 'i', 'g'), 'I', '\u0131')"
        )
    if split_analyzer_base(analyzer) == "irish":
        # the PRE stages read the RAW match (prothesis needs case), so
        # lowercase happens inside the per-token transform
        raw = (
            f"list_filter(regexp_extract_all({src}, "
            f"'{TOKEN_PATTERN_RE2_SQL}'), "
            f"t -> length(t) <= {MAX_TOKEN_LENGTH})"
        )
        pre = f"list_transform({raw}, t -> {_irish_pre_sql('t')})"
        from .functions.analysis import has_ascii_fold

        if has_ascii_fold(analyzer):
            from .functions.asciifold import ascii_fold_sql

            pre = f"list_transform({pre}, t -> {ascii_fold_sql('t')})"
        return f"list_filter({pre}, t -> t NOT IN ({stop_list}))"
    lowered = (
        f"list_filter(list_transform(regexp_extract_all({src}, "
        f"'{TOKEN_PATTERN_RE2_SQL}'), t -> lower(t)), "
        f"t -> length(t) <= {MAX_TOKEN_LENGTH})"
    )
    arts = elision_articles(analyzer)
    if arts is not None:
        # ElisionFilter ahead of the stop filter (FrenchAnalyzer.cs /
        # ItalianAnalyzer.cs CreateComponents); length cap stays on the
        # RAW token like the reference's tokenizer-level maxTokenLength
        pat = elision_sql(arts).replace("'", "''")
        lowered = (
            f"list_transform({lowered}, t -> regexp_replace(t, '{pat}', ''))"
        )
    pre = _PRE_NORM_SQL.get(split_analyzer_base(analyzer))
    if pre is not None:
        # pre-stop normalization (PersianAnalyzer.cs / SoraniAnalyzer.cs:
        # the stop list holds NORMALIZED forms, so normalize first)
        lowered = f"list_transform({lowered}, t -> {pre('t')})"
    from .functions.analysis import has_ascii_fold

    if has_ascii_fold(analyzer):
        # ASCIIFoldingFilter after the base PRE stage, before the stop
        # filter — same composition point as the Python chain
        from .functions.asciifold import ascii_fold_sql

        lowered = f"list_transform({lowered}, t -> {ascii_fold_sql('t')})"
    return f"list_filter({lowered}, t -> t NOT IN ({stop_list}))"


def split_analyzer_base(analyzer: str) -> str:
    from .functions.analysis import split_analyzer

    return split_analyzer(analyzer)[0]


def _porter_sql_pipeline() -> str:
    """CTE chain vocab(tok) -> stemmap(tok, stem): the full Porter (1980)
    algorithm in SQL, mirroring functions/porter.py step for step (same
    departures: BLI->BLE, LOGI->LOG). An INDEPENDENT implementation of the
    published algorithm (regexp-based cv classification; y is a vowel iff
    preceded by a consonant), so the stemmed gates are non-circular. Stems
    are computed once per DISTINCT token (like the memoized Python side).
    Expects CTEs `rawtoks(docid, ord, tok)` upstream."""

    def cv(e):
        # markers are UPPERCASE so they cannot collide with the lowercase
        # letters v/c appearing in tokens
        a = f"regexp_replace({e}, '[aeiou]', 'V', 'g')"
        b = f"regexp_replace({a}, '([^V])y', '\\1V', 'g')"
        return f"regexp_replace({b}, '[^V]', 'C', 'g')"

    def m(e):
        return f"len(regexp_extract_all({cv(e)}, 'V+C+'))"

    def hasv(e):
        return f"contains({cv(e)}, 'V')"

    def st(e, n):
        return f"left({e}, length({e}) - {n})"

    def ends(e, suf):
        return f"ends_with({e}, '{suf}')"

    def dbl(e):
        # *d: last two chars equal AND the last classifies consonant
        return (
            f"(length({e}) >= 2 AND right({e}, 1) = substr({e}, length({e}) - 1, 1)"
            f" AND ends_with({cv(e)}, 'C'))"
        )

    def cvc(e):
        # *o: ends consonant-vowel-consonant, final not w/x/y
        return (
            f"(ends_with({cv(e)}, 'CVC')"
            f" AND right({e}, 1) NOT IN ('w', 'x', 'y'))"
        )

    w = "w"
    s1a = (
        f"CASE WHEN {ends(w,'sses')} THEN {st(w,2)}"
        f" WHEN {ends(w,'ies')} THEN {st(w,2)}"
        f" WHEN {ends(w,'ss')} THEN {w}"
        f" WHEN {ends(w,'s')} THEN {st(w,1)} ELSE {w} END"
    )
    s1b_w = (
        f"CASE WHEN {ends(w,'eed')} THEN"
        f" CASE WHEN {m(st(w,3))} > 0 THEN {st(w,1)} ELSE {w} END"
        f" WHEN {ends(w,'ed')} AND {hasv(st(w,2))} THEN {st(w,2)}"
        f" WHEN {ends(w,'ing')} AND {hasv(st(w,3))} THEN {st(w,3)}"
        f" ELSE {w} END"
    )
    s1b_fl = (
        f"CASE WHEN {ends(w,'eed')} THEN FALSE"
        f" WHEN {ends(w,'ed')} AND {hasv(st(w,2))} THEN TRUE"
        f" WHEN {ends(w,'ing')} AND {hasv(st(w,3))} THEN TRUE"
        f" ELSE FALSE END"
    )
    s1b2 = (
        f"CASE WHEN fl THEN"
        f" CASE WHEN {ends(w,'at')} OR {ends(w,'bl')} OR {ends(w,'iz')} THEN {w} || 'e'"
        f" WHEN {dbl(w)} AND right({w}, 1) NOT IN ('l', 's', 'z') THEN {st(w,1)}"
        f" WHEN {m(w)} = 1 AND {cvc(w)} THEN {w} || 'e'"
        f" ELSE {w} END"
        f" ELSE {w} END"
    )
    s1c = (
        f"CASE WHEN {ends(w,'y')} AND {hasv(st(w,1))}"
        f" THEN {st(w,1)} || 'i' ELSE {w} END"
    )

    step2_rules = [
        ("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
        ("anci", "ance"), ("izer", "ize"), ("bli", "ble"), ("alli", "al"),
        ("entli", "ent"), ("eli", "e"), ("ousli", "ous"),
        ("ization", "ize"), ("ation", "ate"), ("ator", "ate"),
        ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
        ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"),
        ("biliti", "ble"), ("logi", "log"),
    ]
    step3_rules = [
        ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
        ("ical", "ic"), ("ful", ""), ("ness", ""),
    ]

    def rules_case(rules, cond_gt):
        parts = []
        for suf, rep in rules:
            stem = st(w, len(suf))
            new = f"{stem} || '{rep}'" if rep else stem
            parts.append(
                f"WHEN {ends(w, suf)} THEN"
                f" CASE WHEN {m(stem)} > {cond_gt} THEN {new} ELSE {w} END"
            )
        return "CASE " + " ".join(parts) + f" ELSE {w} END"

    s2 = rules_case(step2_rules, 0)
    s3 = rules_case(step3_rules, 0)

    step4_sufs = [
        "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
        "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
    ]
    parts4 = []
    for suf in step4_sufs:
        stem = st(w, len(suf))
        if suf == "ion":
            parts4.append(
                f"WHEN {ends(w, suf)} THEN CASE WHEN"
                f" (ends_with({stem}, 's') OR ends_with({stem}, 't'))"
                f" AND {m(stem)} > 1 THEN {stem} ELSE {w} END"
            )
        else:
            parts4.append(
                f"WHEN {ends(w, suf)} THEN"
                f" CASE WHEN {m(stem)} > 1 THEN {stem} ELSE {w} END"
            )
    s4 = "CASE " + " ".join(parts4) + f" ELSE {w} END"

    s5a = (
        f"CASE WHEN {ends(w,'e')} AND ({m(w)} > 1 OR"
        f" ({m(w)} = 1 AND NOT {cvc(st(w,1))})) THEN {st(w,1)} ELSE {w} END"
    )
    s5b = (
        f"CASE WHEN {m(w)} > 1 AND {dbl(w)} AND {ends(w,'l')}"
        f" THEN {st(w,1)} ELSE {w} END"
    )

    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
pv0 AS (SELECT tok, tok AS w FROM vocab WHERE length(tok) > 2),
pv1 AS (SELECT tok, {s1a} AS w FROM pv0),
pv2 AS (SELECT tok, {s1b_w} AS w, {s1b_fl} AS fl FROM pv1),
pv3 AS (SELECT tok, {s1b2} AS w FROM pv2),
pv4 AS (SELECT tok, {s1c} AS w FROM pv3),
pv5 AS (SELECT tok, {s2} AS w FROM pv4),
pv6 AS (SELECT tok, {s3} AS w FROM pv5),
pv7 AS (SELECT tok, {s4} AS w FROM pv6),
pv8 AS (SELECT tok, {s5a} AS w FROM pv7),
pv9 AS (SELECT tok, {s5b} AS w FROM pv8),
stemmap AS (
  SELECT tok, w AS stem FROM pv9
  UNION ALL
  SELECT tok, tok AS stem FROM vocab WHERE length(tok) <= 2
)"""


def _german_norm_sql(col: str) -> str:
    """The ASCII-corpus reduction of GermanNormalizationFilter as two RE2
    rewrites (see _german_sql_pipeline's docstring for the argument)."""
    return (
        f"regexp_replace(regexp_replace({col}, '([ao])e', '\\1', 'g'), "
        "'(^|[^aoueiqy])ue', '\\1u', 'g')"
    )


def _german_sql_pipeline() -> str:
    """Independent SQL GermanNormalizationFilter + GermanLightStemmer over
    the distinct raw tokens -> stemmap(tok, stem).

    The normalization FSM's umlaut-state e-deletion reduces, on the gate
    corpus's ASCII token space, to exactly two RE2 rewrites applied in
    order: delete 'e' after a/o, then delete 'e' after a 'u' that follows
    a non-vowel (the 'u' entered the umlaut state only from the ordinary
    state). Deleted e's always follow a consumed a/o, so the first rewrite
    can never manufacture a context for the second. Umlaut/ß folding never
    fires on ASCII input; the Python implementation (functions/lightstem.py)
    carries the full FSM and the pytest fuzz compares the two over the
    corpus vocabulary."""
    st = "('b','d','f','g','h','k','l','m','n','t')"
    norm = _german_norm_sql("tok")
    s1 = f"""CASE
    WHEN length(n) > 5 AND n LIKE '%ern' THEN left(n, length(n)-3)
    WHEN length(n) > 4 AND substr(n, length(n)-1, 1) = 'e'
         AND right(n, 1) IN ('m','n','r','s') THEN left(n, length(n)-2)
    WHEN length(n) > 3 AND n LIKE '%e' THEN left(n, length(n)-1)
    WHEN length(n) > 3 AND n LIKE '%s'
         AND substr(n, length(n)-1, 1) IN {st} THEN left(n, length(n)-1)
    ELSE n END"""
    s2 = f"""CASE
    WHEN length(w) > 5 AND w LIKE '%est' THEN left(w, length(w)-3)
    WHEN length(w) > 4 AND (w LIKE '%er' OR w LIKE '%en')
         THEN left(w, length(w)-2)
    WHEN length(w) > 4 AND w LIKE '%st'
         AND substr(w, length(w)-2, 1) IN {st} THEN left(w, length(w)-2)
    ELSE w END"""
    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
gv0 AS (SELECT tok, {norm} AS n FROM vocab),
gv1 AS (SELECT tok, {s1} AS w FROM gv0),
stemmap AS (SELECT tok, {s2} AS stem FROM gv1)"""


def _swedish_sql_pipeline() -> str:
    """Independent SQL SwedishLightStemmer (trailing -s strip, then one
    suffix cascade) over the distinct raw tokens -> stemmap(tok, stem)."""
    pre = (
        "CASE WHEN length(tok) > 4 AND tok LIKE '%s' "
        "THEN left(tok, length(tok)-1) ELSE tok END"
    )
    s = """CASE
    WHEN length(p) > 7 AND (p LIKE '%elser' OR p LIKE '%heten')
         THEN left(p, length(p)-5)
    WHEN length(p) > 6 AND right(p, 4) IN
         ('arne','erna','ande','else','aste','orna','aren')
         THEN left(p, length(p)-4)
    WHEN length(p) > 5 AND right(p, 3) IN ('are','ast','het')
         THEN left(p, length(p)-3)
    WHEN length(p) > 4 AND right(p, 2) IN
         ('ar','er','or','en','at','te','et') THEN left(p, length(p)-2)
    WHEN length(p) > 3 AND right(p, 1) IN ('t','a','e','n')
         THEN left(p, length(p)-1)
    ELSE p END"""
    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
sv0 AS (SELECT tok, {pre} AS p FROM vocab),
stemmap AS (SELECT tok, {s} AS stem FROM sv0)"""


def _spanish_sql_pipeline() -> str:
    """Independent SQL SpanishLightStemmer (len<5 pass-through BEFORE fold,
    accent fold, one final-vowel/plural switch) over the distinct raw
    tokens -> stemmap(tok, stem)."""
    fold = "translate(tok, 'àáâäòóôöèéêëùúûüìíîï', 'aaaaoooo" \
        "eeeeuuuuiiii')"
    s = """CASE
    WHEN right(f, 1) IN ('o','a','e') THEN left(f, length(f)-1)
    WHEN right(f, 4) = 'eses' THEN left(f, length(f)-2)
    WHEN right(f, 3) = 'ces' THEN left(f, length(f)-3) || 'z'
    WHEN right(f, 1) = 's' AND substr(f, length(f)-1, 1) IN ('o','a','e')
         THEN left(f, length(f)-2)
    ELSE f END"""
    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
es0 AS (SELECT tok, {fold} AS f FROM vocab),
stemmap AS (
  SELECT tok, CASE WHEN length(tok) < 5 THEN tok ELSE {s} END AS stem
  FROM es0
)"""


def _italian_sql_pipeline() -> str:
    """Independent SQL ItalianLightStemmer (len<6 pass-through BEFORE fold,
    accent fold, one final-vowel switch) -> stemmap(tok, stem)."""
    fold = "translate(tok, 'àáâäòóôöèéêëùúûüìíîï', 'aaaaoooo" \
        "eeeeuuuuiiii')"
    s = """CASE
    WHEN right(f, 2) IN ('ie','he') THEN left(f, length(f)-2)
    WHEN right(f, 1) = 'e' THEN left(f, length(f)-1)
    WHEN right(f, 2) IN ('hi','ii') THEN left(f, length(f)-2)
    WHEN right(f, 1) = 'i' THEN left(f, length(f)-1)
    WHEN right(f, 2) = 'ia' THEN left(f, length(f)-2)
    WHEN right(f, 1) = 'a' THEN left(f, length(f)-1)
    WHEN right(f, 2) = 'io' THEN left(f, length(f)-2)
    WHEN right(f, 1) = 'o' THEN left(f, length(f)-1)
    ELSE f END"""
    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
it0 AS (SELECT tok, {fold} AS f FROM vocab),
stemmap AS (
  SELECT tok, CASE WHEN length(tok) < 6 THEN tok ELSE {s} END AS stem
  FROM it0
)"""


def _portuguese_sql_pipeline() -> str:
    """Independent SQL PortugueseLightStemmer (RemoveSuffix rewrite cascade,
    NormFeminine on final -a, final-vowel strip, accent fold LAST) ->
    stemmap(tok, stem). len<4 tokens pass through untouched."""
    rs = """CASE
    WHEN length(tok)>4 AND right(tok,2)='es'
         AND substr(tok, length(tok)-2, 1) IN ('r','s','l','z')
         THEN left(tok, length(tok)-2)
    WHEN length(tok)>3 AND right(tok,2)='ns' THEN left(tok, length(tok)-2) || 'm'
    WHEN length(tok)>4 AND (right(tok,3)='eis' OR right(tok,3)='éis')
         THEN left(tok, length(tok)-3) || 'el'
    WHEN length(tok)>4 AND right(tok,3)='ais' THEN left(tok, length(tok)-3) || 'al'
    WHEN length(tok)>4 AND right(tok,3)='óis' THEN left(tok, length(tok)-3) || 'ol'
    WHEN length(tok)>4 AND right(tok,2)='is' THEN left(tok, length(tok)-1) || 'l'
    WHEN length(tok)>3 AND (right(tok,3)='ões' OR right(tok,3)='ães')
         THEN left(tok, length(tok)-3) || 'ão'
    WHEN length(tok)>6 AND right(tok,5)='mente' THEN left(tok, length(tok)-5)
    WHEN length(tok)>3 AND right(tok,1)='s' THEN left(tok, length(tok)-1)
    ELSE tok END"""
    fem = """CASE
    WHEN length(w)<=3 OR right(w,1) != 'a' THEN w
    WHEN length(w)>7 AND right(w,4) IN ('inha','iaca','eira')
         THEN left(w, length(w)-1) || 'o'
    WHEN length(w)>6 AND right(w,3) IN ('osa','ica','ida','ada','iva','ama')
         THEN left(w, length(w)-1) || 'o'
    WHEN length(w)>6 AND right(w,3)='ona' THEN left(w, length(w)-3) || 'ão'
    WHEN length(w)>6 AND right(w,3)='ora' THEN left(w, length(w)-1)
    WHEN length(w)>6 AND right(w,3)='esa' THEN left(w, length(w)-3) || 'ês'
    WHEN length(w)>6 AND right(w,2)='na' THEN left(w, length(w)-1) || 'o'
    ELSE w END"""
    final = """CASE WHEN length(w)>4 AND right(w,1) IN ('e','a','o')
    THEN left(w, length(w)-1) ELSE w END"""
    fold = "translate(w, 'àáâäãòóôöõèéêëùúûüìíîïç', 'aaaaaooooo" \
        "eeeeuuuuiiiic')"
    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
pt1 AS (SELECT tok, CASE WHEN length(tok)<4 THEN NULL ELSE {rs} END AS w
        FROM vocab),
pt2 AS (SELECT tok, {fem} AS w FROM pt1 WHERE w IS NOT NULL),
pt3 AS (SELECT tok, {final} AS w FROM pt2),
stemmap AS (
  SELECT tok, {fold} AS stem FROM pt3
  UNION ALL
  SELECT tok, tok AS stem FROM vocab WHERE length(tok) < 4
)"""


def _norwegian_sql_pipeline() -> str:
    """Independent SQL NorwegianLightStemmer, BOKMAAL flag (possessive -s,
    then ONE ending from the cascade) -> stemmap(tok, stem)."""
    pre = (
        "CASE WHEN length(tok) > 4 AND right(tok,1) = 's' "
        "THEN left(tok, length(tok)-1) ELSE tok END"
    )
    s = """CASE
    WHEN length(p)>7 AND right(p,5) IN ('heter','heten') THEN left(p, length(p)-5)
    WHEN length(p)>5 AND right(p,3) IN ('dom','het') THEN left(p, length(p)-3)
    WHEN length(p)>7 AND right(p,5) IN ('elser','elsen') THEN left(p, length(p)-5)
    WHEN length(p)>6 AND right(p,4) IN ('ende','else','este','eren')
         THEN left(p, length(p)-4)
    WHEN length(p)>5 AND right(p,3) IN ('ere','est','ene') THEN left(p, length(p)-3)
    WHEN length(p)>4 AND right(p,2) IN ('er','en','et','st','te')
         THEN left(p, length(p)-2)
    WHEN length(p)>3 AND right(p,1) IN ('a','e','n') THEN left(p, length(p)-1)
    ELSE p END"""
    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
nb0 AS (SELECT tok, {pre} AS p FROM vocab),
stemmap AS (SELECT tok, {s} AS stem FROM nb0)"""


def _french_sql_pipeline() -> str:
    """Independent SQL FrenchLightStemmer -> stemmap(tok, stem).

    The Stem() cascade is modeled with a done-flag walk: returning branches
    set r (NULL = fell through), the three no-return branches (trice, ète,
    ique) rewrite w only while no r is set, and every path funnels into the
    shared Norm stages (fold + adjacent-duplicate-letter collapse via an
    indexed list_filter, -ie strip, then the sequential r/e/e/double tail
    applied under ONE entry length check, exactly like the scalar code in
    functions/lightstem.py)."""
    # stage A: the three unconditional x/s strips (aux -> al rewrite)
    a1 = """CASE WHEN length(tok)>5 AND right(tok,1)='x' THEN
      CASE WHEN right(tok,3)='aux' AND substr(tok, length(tok)-3, 1)!='e'
           THEN left(tok, length(tok)-2) || 'l'
           ELSE left(tok, length(tok)-1) END
    ELSE tok END"""
    a2 = "CASE WHEN length(a1)>3 AND right(a1,1)='x' THEN left(a1, length(a1)-1) ELSE a1 END"
    a3 = "CASE WHEN length(a2)>3 AND right(a2,1)='s' THEN left(a2, length(a2)-1) ELSE a2 END"
    # stage B: first returning group (suffix -> rewrite, longest first)
    b = """CASE
    WHEN length(w)>9  AND right(w,8)='issement' THEN left(w, length(w)-7) || 'r'
    WHEN length(w)>8  AND right(w,6)='issant'   THEN left(w, length(w)-5) || 'r'
    WHEN length(w)>6  AND right(w,5)='ement'    THEN
      CASE WHEN length(w)>7 AND right(w,7)='ivement'
           THEN left(w, length(w)-6) || 'f'
           ELSE left(w, length(w)-4) END
    WHEN length(w)>11 AND right(w,9)='ficatrice' THEN left(w, length(w)-7) || 'er'
    WHEN length(w)>10 AND right(w,8)='ficateur'  THEN left(w, length(w)-6) || 'er'
    WHEN length(w)>9  AND right(w,7)='catrice'   THEN left(w, length(w)-7) || 'quer'
    WHEN length(w)>8  AND right(w,6)='cateur'    THEN left(w, length(w)-6) || 'quer'
    WHEN length(w)>8  AND right(w,6)='atrice'    THEN left(w, length(w)-6) || 'er'
    WHEN length(w)>7  AND right(w,5)='ateur'     THEN left(w, length(w)-5) || 'er'
    ELSE NULL END"""
    # stage C: trice (no return)
    c = """CASE WHEN NOT dn AND length(w)>6 AND right(w,5)='trice'
    THEN left(w, length(w)-5) || 'teur' ELSE w END"""
    # stage D: second returning group
    d = """CASE
    WHEN length(w)>5 AND right(w,4)='ième' THEN left(w, length(w)-4)
    WHEN length(w)>7 AND right(w,5)='teuse' THEN left(w, length(w)-3) || 'r'
    WHEN length(w)>6 AND right(w,4)='teur' THEN left(w, length(w)-2) || 'r'
    WHEN length(w)>5 AND right(w,4)='euse' THEN left(w, length(w)-2)
    WHEN length(w)>8 AND right(w,3)='ère' THEN left(w, length(w)-3) || 'er'
    WHEN length(w)>7 AND right(w,3)='ive' THEN left(w, length(w)-2) || 'f'
    WHEN length(w)>4 AND (right(w,5)='folle' OR right(w,5)='molle')
         THEN left(w, length(w)-3) || 'u'
    WHEN length(w)>9 AND right(w,6)='nnelle' THEN left(w, length(w)-5)
    WHEN length(w)>9 AND right(w,4)='nnel' THEN left(w, length(w)-3)
    ELSE NULL END"""
    # stage E: ète, ique (no return)
    e1 = """CASE WHEN NOT dn AND length(w)>4 AND right(w,3)='ète'
    THEN left(w, length(w)-3) || 'et' ELSE w END"""
    e2 = """CASE WHEN NOT dn AND length(e1)>8 AND right(e1,4)='ique'
    THEN left(e1, length(e1)-4) ELSE e1 END"""
    # stage F: third returning group
    f = """CASE
    WHEN length(w)>8 AND right(w,4)='esse' THEN left(w, length(w)-3)
    WHEN length(w)>7 AND right(w,5)='inage' THEN left(w, length(w)-3)
    WHEN length(w)>9 AND right(w,7)='isation' THEN
      CASE WHEN length(w)>12 AND substr(w, length(w)-9, 3)='ual'
           THEN left(w, length(w)-10) || 'uel'
           ELSE left(w, length(w)-7) END
    WHEN length(w)>9 AND right(w,7)='isateur' THEN left(w, length(w)-7)
    WHEN length(w)>8 AND right(w,5)='ation' THEN left(w, length(w)-5)
    WHEN length(w)>8 AND right(w,5)='ition' THEN left(w, length(w)-5)
    ELSE NULL END"""
    fold = "translate(w, 'àáâôèéêùûîç', 'aaaoeeeuuic')"
    collapse = (
        "list_reduce(list_filter(regexp_extract_all(f, '.'), "
        "(c, i) -> i = 1 OR c != regexp_extract_all(f, '.')[i-1] "
        "OR NOT regexp_matches(c, '^\\p{L}$')), (x, y) -> x || y)"
    )
    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
fra AS (
  SELECT tok, {a3} AS w
  FROM (SELECT tok, a1, {a2} AS a2
        FROM (SELECT tok, {a1} AS a1 FROM vocab))
),
frb AS (SELECT tok, COALESCE(r, w) AS w, r IS NOT NULL AS dn
        FROM (SELECT tok, w, {b} AS r FROM fra)),
frc AS (SELECT tok, {c} AS w, dn FROM frb),
frd AS (SELECT tok, COALESCE(r, w) AS w, dn OR r IS NOT NULL AS dn
        FROM (SELECT tok, w,
                     CASE WHEN dn THEN NULL ELSE {d} END AS r, dn FROM frc)),
fre AS (SELECT tok, {e2} AS w, dn
        FROM (SELECT tok, {e1} AS e1, dn, w FROM frd)),
frf AS (SELECT tok, COALESCE(r, w) AS w
        FROM (SELECT tok, w,
                     CASE WHEN dn THEN NULL ELSE {f} END AS r FROM fre)),
frn1 AS (
  SELECT tok, CASE WHEN length(w)>4 THEN {collapse} ELSE w END AS w
  FROM (SELECT tok, w, {fold} AS f FROM frf)
),
frn2 AS (SELECT tok, CASE WHEN length(w)>4 AND right(w,2)='ie'
                          THEN left(w, length(w)-2) ELSE w END AS w
         FROM frn1),
stemmap AS (
  SELECT tok,
         CASE WHEN blk AND length(w3)>=2
                   AND right(w3,1) = substr(w3, length(w3)-1, 1)
                   AND regexp_matches(right(w3,1), '^\\p{{L}}$')
              THEN left(w3, length(w3)-1) ELSE w3 END AS stem
  FROM (
    SELECT tok, blk, w1, w2,
           CASE WHEN blk AND right(w2,1)='e' THEN left(w2, length(w2)-1)
                ELSE w2 END AS w3
    FROM (
      SELECT tok, blk, w1,
             CASE WHEN blk AND right(w1,1)='e' THEN left(w1, length(w1)-1)
                  ELSE w1 END AS w2
      FROM (
        SELECT tok, length(w)>4 AS blk,
               CASE WHEN length(w)>4 AND right(w,1)='r'
                    THEN left(w, length(w)-1) ELSE w END AS w1
        FROM frn2)))
)"""


def _finnish_sql_pipeline() -> str:
    """Independent SQL FinnishLightStemmer -> stemmap(tok, stem). The kin/ko
    particle loop runs as a recursive CTE (each iteration strips one
    particle while length>8 — the pieces end in different letters so the
    end-first walk is deterministic); prelude() emits WITH RECURSIVE for
    this analyzer. len<4 tokens pass through untouched (before the fold,
    like the scalar code)."""
    step2 = """CASE
    WHEN length(w)>5 AND right(w,3) IN ('lla','tse','sti') THEN left(w, length(w)-3)
    WHEN length(w)>5 AND right(w,2)='ni' THEN left(w, length(w)-2)
    WHEN length(w)>5 AND right(w,2)='aa' THEN left(w, length(w)-1)
    ELSE w END"""
    step3 = """CASE
    WHEN length(w)>8 AND right(w,4)='nnen' THEN left(w, length(w)-4) || 's'
    WHEN length(w)>8 AND right(w,5)='ntena' THEN left(w, length(w)-5) || 's'
    WHEN length(w)>8 AND right(w,4)='tten' THEN left(w, length(w)-4)
    WHEN length(w)>8 AND right(w,5)='eiden' THEN left(w, length(w)-5)
    WHEN length(w)>6 AND right(w,4) IN ('neen','niin','seen','teen','inen')
         THEN left(w, length(w)-4)
    WHEN length(w)>6 AND substr(w, length(w)-2, 1)='h'
         AND substr(w, length(w)-1, 1) IN ('a','e','i','o','u','y')
         AND right(w,1)='n' THEN left(w, length(w)-3)
    WHEN length(w)>6 AND right(w,3)='den' THEN left(w, length(w)-3) || 's'
    WHEN length(w)>6 AND right(w,4)='ksen' THEN left(w, length(w)-4) || 's'
    WHEN length(w)>6 AND right(w,3) IN ('ssa','sta','lla','lta','tta','ksi','lle')
         THEN left(w, length(w)-3)
    WHEN length(w)>5 AND right(w,2) IN ('na','ne') THEN left(w, length(w)-2)
    WHEN length(w)>5 AND right(w,3)='nei' THEN left(w, length(w)-3)
    WHEN length(w)>4 AND right(w,2) IN ('ja','ta') THEN left(w, length(w)-2)
    WHEN length(w)>4 AND right(w,1)='a' THEN left(w, length(w)-1)
    WHEN length(w)>4 AND right(w,1)='n'
         AND substr(w, length(w)-1, 1) IN ('a','e','i','o','u','y')
         THEN left(w, length(w)-2)
    WHEN length(w)>4 AND right(w,1)='n' THEN left(w, length(w)-1)
    ELSE w END"""
    norm1 = """CASE
    WHEN length(h)>4 AND (right(h,2)='ei' OR right(h,2)='at')
         THEN left(h, length(h)-2)
    WHEN length(h)>3 AND right(h,1) IN ('t','s','j','e','a','i')
         THEN left(h, length(h)-1)
    ELSE h END"""
    collapse = (
        "list_reduce(list_filter(regexp_extract_all(w, '.'), "
        "(c, i) -> i = 1 OR c != regexp_extract_all(w, '.')[i-1] "
        "OR c NOT IN ('k','p','t')), (x, y) -> x || y)"
    )
    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
fi_rec(tok, w) AS (
  SELECT tok, translate(tok, 'äåö', 'aao') FROM vocab WHERE length(tok) >= 4
  UNION ALL
  SELECT tok, CASE WHEN right(w,3)='kin' THEN left(w, length(w)-3)
                   ELSE left(w, length(w)-2) END
  FROM fi_rec
  WHERE length(w) > 8 AND (right(w,3)='kin' OR right(w,2)='ko')
),
fi1 AS (
  SELECT tok,
         CASE WHEN length(w)>11 AND right(w,8)='dellinen' THEN left(w, length(w)-8)
              WHEN length(w)>11 AND right(w,9)='dellisuus' THEN left(w, length(w)-9)
              ELSE w END AS w
  FROM (SELECT tok, min_by(w, length(w)) AS w FROM fi_rec GROUP BY tok)
),
fi2 AS (SELECT tok, {step2} AS w FROM fi1),
fi3 AS (SELECT tok, {step3} AS w FROM fi2),
fi4 AS (SELECT tok, {norm1} AS w
        FROM (SELECT tok, CASE WHEN length(w)>5 AND right(w,3)='hde'
                               THEN left(w, length(w)-3) || 'ksi'
                               ELSE w END AS h FROM fi3)),
fi5 AS (SELECT tok, CASE WHEN length(w1)>4 AND right(w1,1)='i'
                         THEN left(w1, length(w1)-1) ELSE w1 END AS w
        FROM (SELECT tok, CASE WHEN length(w)>8 AND right(w,1) IN ('e','o','u')
                               THEN left(w, length(w)-1) ELSE w END AS w1
              FROM fi4)),
stemmap AS (
  SELECT tok, CASE WHEN length(w)>4 THEN {collapse} ELSE w END AS stem
  FROM fi5
  UNION ALL
  SELECT tok, tok AS stem FROM vocab WHERE length(tok) < 4
)"""


def _hungarian_sql_pipeline() -> str:
    """Independent SQL HungarianLightStemmer (vowel fold, then RemoveCase
    -> RemovePossessive -> RemovePlural -> final-vowel Normalize,
    Analysis/Hu/HungarianLightStemmer.cs) -> stemmap(tok, stem). Each
    reference method is one first-match CASE cascade; the reference's
    s[len-k] char probe maps to substr(w, length(w)-(k-1), 1)."""
    vow = "('a','e','i','o','u','y')"
    fold = "translate(tok, 'áëéíóőõöúűũûü', 'aeeioooouuuuu')"
    case = f"""CASE
    WHEN length(w)>6 AND right(w,4)='kent' THEN left(w, length(w)-4)
    WHEN length(w)>5 AND right(w,3) IN
         ('nak','nek','val','vel','ert','rol','ban','ben','bol','nal','nel',
          'hoz','hez','tol') THEN left(w, length(w)-3)
    WHEN length(w)>5 AND right(w,2) IN ('al','el')
         AND substr(w, length(w)-2, 1) NOT IN {vow}
         AND substr(w, length(w)-2, 1) = substr(w, length(w)-3, 1)
         THEN left(w, length(w)-3)
    WHEN length(w)>4 AND right(w,2) IN
         ('at','et','ot','va','ve','ra','re','ba','be','ul','ig')
         THEN left(w, length(w)-2)
    WHEN length(w)>4 AND right(w,2) IN ('on','en')
         AND substr(w, length(w)-2, 1) NOT IN {vow} THEN left(w, length(w)-2)
    WHEN length(w)>4 AND right(w,1) IN ('t','n') THEN left(w, length(w)-1)
    WHEN length(w)>4 AND right(w,1) IN ('a','e')
         AND substr(w, length(w)-1, 1) = substr(w, length(w)-2, 1)
         AND substr(w, length(w)-1, 1) NOT IN {vow}
         THEN left(w, length(w)-2)
    ELSE w END"""
    poss = f"""CASE
    WHEN length(w)>6 AND substr(w, length(w)-4, 1) NOT IN {vow}
         AND right(w,4) IN ('atok','otok','etek') THEN left(w, length(w)-4)
    WHEN length(w)>6 AND right(w,4) IN ('itek','itok')
         THEN left(w, length(w)-4)
    WHEN length(w)>5 AND substr(w, length(w)-3, 1) NOT IN {vow}
         AND right(w,3) IN ('unk','tok','tek') THEN left(w, length(w)-3)
    WHEN length(w)>5 AND substr(w, length(w)-3, 1) IN {vow}
         AND right(w,3)='juk' THEN left(w, length(w)-3)
    WHEN length(w)>5 AND right(w,3)='ink' THEN left(w, length(w)-3)
    WHEN length(w)>4 AND substr(w, length(w)-2, 1) NOT IN {vow}
         AND right(w,2) IN ('am','em','om','ad','ed','od','uk')
         THEN left(w, length(w)-2)
    WHEN length(w)>4 AND substr(w, length(w)-2, 1) IN {vow}
         AND right(w,2) IN ('nk','ja','je') THEN left(w, length(w)-2)
    WHEN length(w)>4 AND right(w,2) IN ('im','id','ik')
         THEN left(w, length(w)-2)
    WHEN length(w)>3 AND right(w,1) IN ('a','e')
         AND substr(w, length(w)-1, 1) NOT IN {vow} THEN left(w, length(w)-1)
    WHEN length(w)>3 AND right(w,1) IN ('m','d')
         AND substr(w, length(w)-1, 1) IN {vow} THEN left(w, length(w)-1)
    WHEN length(w)>3 AND right(w,1)='i' THEN left(w, length(w)-1)
    ELSE w END"""
    plural = """CASE WHEN length(w)>3 AND right(w,1)='k' THEN
      CASE WHEN length(w)>4 AND substr(w, length(w)-1, 1) IN ('a','o','e')
           THEN left(w, length(w)-2) ELSE left(w, length(w)-1) END
    ELSE w END"""
    norm = """CASE WHEN length(w)>3 AND right(w,1) IN ('a','e','i','o')
    THEN left(w, length(w)-1) ELSE w END"""
    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
hu0 AS (SELECT tok, {fold} AS w FROM vocab),
hu1 AS (SELECT tok, {case} AS w FROM hu0),
hu2 AS (SELECT tok, {poss} AS w FROM hu1),
hu3 AS (SELECT tok, {plural} AS w FROM hu2),
stemmap AS (SELECT tok, {norm} AS stem FROM hu3)"""


def _russian_sql_pipeline() -> str:
    """Independent SQL RussianLightStemmer (RemoveCase cascade, then
    Normalize: drop final ь/и, collapse double н) -> stemmap(tok, stem)."""
    case = """CASE
    WHEN length(tok)>6 AND right(tok,4) IN ('иями','оями')
         THEN left(tok, length(tok)-4)
    WHEN length(tok)>5 AND right(tok,3) IN
         ('иям','иях','оях','ями','оям','оьв','ами','его','ему','ери',
          'ими','ого','ому','ыми','оев') THEN left(tok, length(tok)-3)
    WHEN length(tok)>4 AND right(tok,2) IN
         ('ая','яя','ях','юю','ах','ею','их','ия','ию','ьв','ою','ую',
          'ям','ых','ея','ам','ем','ей','ём','ев','ий','им','ое','ой',
          'ом','ов','ые','ый','ым','ми') THEN left(tok, length(tok)-2)
    WHEN length(tok)>3 AND right(tok,1) IN
         ('а','е','и','о','у','й','ы','я','ь') THEN left(tok, length(tok)-1)
    ELSE tok END"""
    norm = """CASE
    WHEN length(w)>3 AND right(w,1) IN ('ь','и') THEN left(w, length(w)-1)
    WHEN length(w)>3 AND right(w,2)='нн' THEN left(w, length(w)-1)
    ELSE w END"""
    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
ru1 AS (SELECT tok, {case} AS w FROM vocab),
stemmap AS (SELECT tok, {norm} AS stem FROM ru1)"""


def _czech_sql_pipeline() -> str:
    """Independent SQL CzechStemmer (RemoveCase -> RemovePossessives ->
    Normalize palatal rewrites) -> stemmap(tok, stem)."""
    case = """CASE
    WHEN length(tok)>7 AND right(tok,5)='atech' THEN left(tok, length(tok)-5)
    WHEN length(tok)>6 AND right(tok,4) IN ('ětem','etem','atům')
         THEN left(tok, length(tok)-4)
    WHEN length(tok)>5 AND right(tok,3) IN
         ('ech','ich','ích','ého','ěmi','emi','ému','ěte','ete','ěti',
          'eti','ího','iho','ími','ímu','imu','ách','ata','aty','ých',
          'ama','ami','ové','ovi','ými') THEN left(tok, length(tok)-3)
    WHEN length(tok)>4 AND right(tok,2) IN
         ('em','es','ém','ím','ům','at','ám','os','us','ým','mi','ou')
         THEN left(tok, length(tok)-2)
    WHEN length(tok)>3 AND right(tok,1) IN
         ('a','e','i','o','u','ů','y','á','é','í','ý','ě')
         THEN left(tok, length(tok)-1)
    ELSE tok END"""
    poss = """CASE WHEN length(w)>5 AND right(w,2) IN ('ov','in','ův')
    THEN left(w, length(w)-2) ELSE w END"""
    norm = """CASE
    WHEN right(w,2)='čt' THEN left(w, length(w)-2) || 'ck'
    WHEN right(w,2)='št' THEN left(w, length(w)-2) || 'sk'
    WHEN right(w,1) IN ('c','č') THEN left(w, length(w)-1) || 'k'
    WHEN right(w,1) IN ('z','ž') THEN left(w, length(w)-1) || 'h'
    WHEN length(w)>1 AND substr(w, length(w)-1, 1)='e'
         THEN left(w, length(w)-2) || right(w,1)
    WHEN length(w)>2 AND substr(w, length(w)-1, 1)='ů'
         THEN left(w, length(w)-2) || 'o' || right(w,1)
    ELSE w END"""
    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
cz1 AS (SELECT tok, {case} AS w FROM vocab),
cz2 AS (SELECT tok, {poss} AS w FROM cz1),
stemmap AS (SELECT tok, {norm} AS stem FROM cz2)"""


def _bulgarian_sql_pipeline() -> str:
    """Independent SQL BulgarianStemmer -> stemmap(tok, stem). <4-char
    tokens and the -ища early return are UNION branches; the main chain is
    article -> plural -> я/а-о-е strips under ONE pre-strip length flag ->
    ен->н -> ъN->N."""
    art = """CASE
    WHEN length(w)>6 AND right(w,3)='ият' THEN left(w, length(w)-3)
    WHEN length(w)>5 AND right(w,2) IN ('ът','то','те','та','ия')
         THEN left(w, length(w)-2)
    WHEN length(w)>4 AND right(w,2)='ят' THEN left(w, length(w)-2)
    ELSE w END"""
    plu = """CASE
    WHEN length(w)>6 AND right(w,4)='овци' THEN left(w, length(w)-3)
    WHEN length(w)>6 AND right(w,3)='ове' THEN left(w, length(w)-3)
    WHEN length(w)>6 AND right(w,3)='еве' THEN left(w, length(w)-3) || 'й'
    WHEN length(w)>5 AND right(w,3)='ища' THEN left(w, length(w)-3)
    WHEN length(w)>5 AND right(w,2)='та' THEN left(w, length(w)-2)
    WHEN length(w)>5 AND right(w,2)='ци' THEN left(w, length(w)-2) || 'к'
    WHEN length(w)>5 AND right(w,2)='зи' THEN left(w, length(w)-2) || 'г'
    WHEN length(w)>5 AND substr(w, length(w)-2, 1)='е' AND right(w,1)='и'
         THEN left(w, length(w)-3) || 'я' || substr(w, length(w)-1, 1)
    WHEN length(w)>4 AND right(w,2)='си' THEN left(w, length(w)-2) || 'х'
    WHEN length(w)>4 AND right(w,1)='и' THEN left(w, length(w)-1)
    ELSE w END"""
    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
bg0 AS (SELECT tok, tok AS w FROM vocab
        WHERE length(tok) >= 4 AND NOT (length(tok)>5 AND right(tok,3)='ища')),
bg1 AS (SELECT tok, {art} AS w FROM bg0),
bg2 AS (SELECT tok, {plu} AS w FROM bg1),
bg3 AS (
  SELECT tok, CASE WHEN blk AND right(w1,1) IN ('а','о','е')
                   THEN left(w1, length(w1)-1) ELSE w1 END AS w
  FROM (SELECT tok, length(w)>3 AS blk,
               CASE WHEN length(w)>3 AND right(w,1)='я'
                    THEN left(w, length(w)-1) ELSE w END AS w1 FROM bg2)
),
bg4 AS (SELECT tok, CASE WHEN length(w)>4 AND right(w,2)='ен'
                         THEN left(w, length(w)-2) || 'н' ELSE w END AS w
        FROM bg3),
stemmap AS (
  SELECT tok, CASE WHEN length(w)>5 AND substr(w, length(w)-1, 1)='ъ'
                   THEN left(w, length(w)-2) || right(w,1) ELSE w END AS stem
  FROM bg4
  UNION ALL
  SELECT tok, tok AS stem FROM vocab WHERE length(tok) < 4
  UNION ALL
  SELECT tok, left(tok, length(tok)-3) AS stem FROM vocab
  WHERE length(tok) >= 4 AND length(tok)>5 AND right(tok,3)='ища'
)"""


# LatvianStemmer.cs `affixes` declaration order: (affix, vc, palatalizes)
_LV_SQL_AFFIXES = (
    ("ajiem", 3, False), ("ajai", 3, False), ("ajam", 2, False),
    ("ajām", 2, False), ("ajos", 2, False), ("ajās", 2, False),
    ("iem", 2, True), ("ajā", 2, False), ("ais", 2, False), ("ai", 2, False),
    ("ei", 2, False), ("ām", 1, False), ("am", 1, False), ("ēm", 1, False),
    ("īm", 1, False), ("im", 1, False), ("um", 1, False), ("us", 1, True),
    ("as", 1, False), ("ās", 1, False), ("es", 1, False), ("os", 1, True),
    ("ij", 1, False), ("īs", 1, False), ("ēs", 1, False), ("is", 1, False),
    ("ie", 1, False), ("u", 1, True), ("a", 1, True), ("i", 1, True),
    ("e", 1, False), ("ā", 1, False), ("ē", 1, False), ("ī", 1, False),
    ("ū", 1, False), ("o", 1, False), ("s", 0, False), ("š", 0, False),
)


def _latvian_sql_pipeline() -> str:
    """Independent SQL LatvianStemmer: the first affix in declaration
    order with numVowels(token) > vc and len >= len(affix)+3 is stripped,
    then the declension II/V/VI strips run Unpalatalize keyed on the first
    removed character -> stemmap(tok, stem)."""
    arms = "\n    ".join(
        f"WHEN nv > {vc} AND length(tok) >= {len(af) + 3} "
        f"AND right(tok,{len(af)})='{af}' THEN '{af}'"
        for af, vc, _pal in _LV_SQL_AFFIXES
    )
    pal_list = ", ".join(
        f"'{af}'" for af, _vc, pal in _LV_SQL_AFFIXES if pal
    )
    unpal = """CASE
    WHEN NOT pal THEN w
    WHEN rm='u' AND right(w,2)='kš' THEN left(w, length(w)-1) || 'st'
    WHEN rm='u' AND right(w,2)='ņņ' THEN left(w, length(w)-2) || 'nn'
    WHEN right(w,2) IN ('pj','bj','mj','vj') THEN left(w, length(w)-1)
    WHEN right(w,2)='šņ' THEN left(w, length(w)-2) || 'sn'
    WHEN right(w,2)='žņ' THEN left(w, length(w)-2) || 'zn'
    WHEN right(w,2)='šļ' THEN left(w, length(w)-2) || 'sl'
    WHEN right(w,2)='žļ' THEN left(w, length(w)-2) || 'zl'
    WHEN right(w,2)='ļņ' THEN left(w, length(w)-2) || 'ln'
    WHEN right(w,2)='ļļ' THEN left(w, length(w)-2) || 'll'
    WHEN right(w,1)='č' THEN left(w, length(w)-1) || 'c'
    WHEN right(w,1)='ļ' THEN left(w, length(w)-1) || 'l'
    WHEN right(w,1)='ņ' THEN left(w, length(w)-1) || 'n'
    ELSE w END"""
    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
lv1 AS (
  SELECT tok, CASE
    {arms}
    ELSE NULL END AS af
  FROM (SELECT tok, len(regexp_extract_all(tok, '[aeiouāīēū]')) AS nv
        FROM vocab)
),
lv2 AS (
  SELECT tok,
         CASE WHEN af IS NULL THEN tok
              ELSE left(tok, length(tok)-length(af)) END AS w,
         COALESCE(af IN ({pal_list}), FALSE) AS pal,
         left(af, 1) AS rm
  FROM lv1
),
stemmap AS (SELECT tok, {unpal} AS stem FROM lv2)"""


def _indonesian_sql_pipeline() -> str:
    """Independent SQL IndonesianStemmer (stemDerivational=true, the
    IndonesianStemFilter default): particle -> possessive -> first-order
    prefix, then the reference's fired/not-fired branch (suffix before or
    after the second-order prefix) with the flag blockers carried as
    boolean columns -> stemmap(tok, stem)."""
    vow = "('a','e','i','o','u')"
    first = f"""CASE
    WHEN left(w,4)='meng' THEN 'meng'
    WHEN left(w,4)='meny' AND length(w)>4 AND substr(w,5,1) IN {vow}
         THEN 'menyV'
    WHEN left(w,3)='men' THEN 'men'
    WHEN left(w,3)='mem' THEN 'mem'
    WHEN left(w,2)='me' THEN 'me'
    WHEN left(w,4)='peng' THEN 'peng'
    WHEN left(w,4)='peny' AND length(w)>4 AND substr(w,5,1) IN {vow}
         THEN 'penyV'
    WHEN left(w,4)='peny' THEN 'peny'
    WHEN left(w,3)='pen' AND length(w)>3 AND substr(w,4,1) IN {vow}
         THEN 'penV'
    WHEN left(w,3)='pen' THEN 'pen'
    WHEN left(w,3)='pem' THEN 'pem'
    WHEN left(w,2)='di' THEN 'di'
    WHEN left(w,3)='ter' THEN 'ter'
    WHEN left(w,2)='ke' THEN 'ke'
    ELSE NULL END"""
    first_apply = """CASE r
    WHEN 'meng' THEN substr(w,5) WHEN 'menyV' THEN 's' || substr(w,5)
    WHEN 'men' THEN substr(w,4) WHEN 'mem' THEN substr(w,4)
    WHEN 'me' THEN substr(w,3)
    WHEN 'peng' THEN substr(w,5) WHEN 'penyV' THEN 's' || substr(w,5)
    WHEN 'peny' THEN substr(w,5) WHEN 'penV' THEN 't' || substr(w,4)
    WHEN 'pen' THEN substr(w,4) WHEN 'pem' THEN substr(w,4)
    WHEN 'di' THEN substr(w,3) WHEN 'ter' THEN substr(w,4)
    WHEN 'ke' THEN substr(w,3)
    ELSE w END"""
    second = f"""CASE
    WHEN left(w,3)='ber' THEN 'ber'
    WHEN w='belajar' THEN 'bel'
    WHEN left(w,2)='be' AND length(w)>4 AND substr(w,3,1) NOT IN {vow}
         AND substr(w,4,1)='e' AND substr(w,5,1)='r' THEN 'beCer'
    WHEN left(w,3)='per' THEN 'per'
    WHEN w='pelajar' THEN 'pel'
    WHEN left(w,2)='pe' THEN 'pe'
    ELSE NULL END"""

    def sfx(w, extra_kan="", extra_i=""):
        # the -kan/-an/-i cascade with its flag blockers; a kan-suffixed
        # word blocked by flags still reaches the -an arm, like the
        # reference's sequential ifs
        return f"""CASE
    WHEN right({w},3)='kan' AND NOT fk AND NOT fp{extra_kan}
         THEN left({w}, length({w})-3)
    WHEN right({w},2)='an' AND NOT fd AND NOT fm AND NOT ft
         THEN left({w}, length({w})-2)
    WHEN right({w},1)='i' AND right({w},2)!='si'
         AND NOT fk AND NOT fp{extra_i} THEN left({w}, length({w})-1)
    ELSE {w} END"""

    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
id0 AS (SELECT tok, tok AS w,
               len(regexp_extract_all(tok, '[aeiou]')) AS syl FROM vocab),
id1 AS (
  SELECT tok,
         CASE WHEN fire THEN left(w, length(w)-3) ELSE w END AS w,
         syl - CASE WHEN fire THEN 1 ELSE 0 END AS syl
  FROM (SELECT tok, w, syl,
               syl > 2 AND right(w,3) IN ('kah','lah','pun') AS fire
        FROM id0)
),
id2 AS (
  SELECT tok,
         CASE WHEN f2 THEN left(w, length(w)-2)
              WHEN f3 THEN left(w, length(w)-3) ELSE w END AS w,
         syl - CASE WHEN f2 OR f3 THEN 1 ELSE 0 END AS syl
  FROM (SELECT tok, w, syl,
               syl > 2 AND right(w,2) IN ('ku','mu') AS f2,
               syl > 2 AND NOT (right(w,2) IN ('ku','mu'))
                     AND right(w,3)='nya' AS f3
        FROM id1)
),
id3 AS (
  SELECT tok, {first_apply} AS w,
         syl - CASE WHEN r IS NOT NULL THEN 1 ELSE 0 END AS syl,
         COALESCE(r IN ('meng','menyV','men','mem','me'), FALSE) AS fm,
         COALESCE(r IN ('peng','penyV','peny','penV','pen','pem'), FALSE) AS fp,
         COALESCE(r='di', FALSE) AS fd,
         COALESCE(r='ter', FALSE) AS ft,
         COALESCE(r='ke', FALSE) AS fk,
         r IS NOT NULL AS f1
  FROM (SELECT tok, w, syl,
               CASE WHEN syl > 2 THEN {first} ELSE NULL END AS r
        FROM id2)
),
id4 AS (
  SELECT tok, fm, fp, fd, ft, fk, f1,
         CASE WHEN f1 AND syl > 2 THEN {sfx('w')}
              WHEN NOT f1 THEN CASE p2
                WHEN 'ber' THEN substr(w,4) WHEN 'bel' THEN substr(w,4)
                WHEN 'beCer' THEN substr(w,3) WHEN 'per' THEN substr(w,4)
                WHEN 'pel' THEN substr(w,4) WHEN 'pe' THEN substr(w,3)
                ELSE w END
              ELSE w END AS w,
         syl - CASE WHEN f1 AND syl > 2 AND {sfx('w')} != w THEN 1
                    WHEN NOT f1 AND p2 IS NOT NULL THEN 1 ELSE 0 END AS syl,
         f1 AND syl > 2 AND {sfx('w')} != w AS sfired,
         COALESCE(NOT f1 AND p2 IN ('ber','bel','beCer'), FALSE) AS fb,
         COALESCE(NOT f1 AND p2='pe', FALSE) AS fpe
  FROM (SELECT tok, w, syl, fm, fp, fd, ft, fk, f1,
               CASE WHEN NOT f1 AND syl > 2 THEN {second}
                    ELSE NULL END AS p2
        FROM id3)
),
stemmap AS (
  SELECT tok,
         CASE
           WHEN f1 AND sfired AND syl > 2 THEN CASE
             WHEN left(w,3)='ber' THEN substr(w,4)
             WHEN w='belajar' THEN substr(w,4)
             WHEN left(w,2)='be' AND length(w)>4
                  AND substr(w,3,1) NOT IN {vow}
                  AND substr(w,4,1)='e' AND substr(w,5,1)='r'
                  THEN substr(w,3)
             WHEN left(w,3)='per' THEN substr(w,4)
             WHEN w='pelajar' THEN substr(w,4)
             WHEN left(w,2)='pe' THEN substr(w,3)
             ELSE w END
           WHEN NOT f1 AND syl > 2
                THEN {sfx('w', ' AND NOT fpe', ' AND NOT fb')}
           ELSE w END AS stem
  FROM id4
)"""




def _persian_norm_sql(e: str) -> str:
    """ArabicNormalizer + PersianNormalizer as ONE simultaneous translate
    (sound: neither normalizer consumes the other's outputs). Mapped chars
    first, deleted chars (tatweel/harakat/hamza-above) past the to-length."""
    return ("translate(" + e + ", "
            "'آأإىةیےکۀہ"
            "ـًٌٍَُِّْٔ', "
            "'ااايهييكهه')")


def _sorani_norm_sql(e: str) -> str:
    """SoraniNormalizer.cs as staged rewrites whose composition equals the
    reference's single index scan (final-heh checked on the RAW token
    because right-side deletions happen after that scan position; ZWNJ and
    initial-reh checked after the deletions to their left):
    1. word-final heh -> ae
    2. yeh/dotless-yeh -> farsi yeh, kaf -> keheh, teh marbuta -> ae,
       heh doachashmee -> heh, rreh-above -> rreh
    3. delete tatweel/harakat + format chars (enumerated Cf subset; the
       Python mirror deletes the full Cf category) — NOT the ZWNJ
    4. heh+ZWNJ -> ae, then delete remaining ZWNJ
    5. word-initial reh -> rreh"""
    s1 = "regexp_replace(" + e + ", 'ه$', 'ە')"
    s2 = ("translate(" + s1 + ", 'يىكةھڒ', "
          "'ییکەهڕ')")
    s3 = ("translate(" + s2 + ", "
          "'ـًٌٍَُِّْ"
          "؜​‍‎‏‪‫‬‭‮⁠﻿', '')")
    s4 = ("replace(regexp_replace(" + s3 + ", 'ه‌', 'ە', 'g'), "
          "'‌', '')")
    return "regexp_replace(" + s4 + ", '^ر', 'ڕ')"


def _turkish_apostrophe_sql(e: str) -> str:
    """ApostropheFilter.cs: keep the text before the FIRST ' or ’."""
    return f"regexp_replace({e}, '[''’].*$', '')"


_PRE_NORM_SQL = {
    "persian": _persian_norm_sql,
    "sorani": _sorani_norm_sql,
    "turkish": _turkish_apostrophe_sql,
}


def _arabic_sql_pipeline() -> str:
    """Independent SQL ArabicNormalizer (one translate: seated alefs ->
    alef, dotless yeh -> yeh, teh marbuta -> heh, tatweel+harakat deleted)
    + ArabicStemmer (first matching prefix with the wa-/len guards, then
    the ten suffixes stripped CUMULATIVELY in declaration order) ->
    stemmap(tok, stem). Stop filtering already happened upstream on the
    UNnormalized token (ArabicAnalyzer.cs:140)."""
    norm = ("translate(tok, 'آأإىة"
            "ـًٌٍَُِّْ', "
            "'ااايه')")
    AL, WAW, BEH, KAF, FEH, LAM = ("ال", "و", "ب",
                                   "ك", "ف", "ل")
    pre = f"""CASE
    WHEN length(w)>=4 AND left(w,2)='{AL}' THEN substr(w,3)
    WHEN length(w)>=5 AND left(w,3)='{WAW}{AL}' THEN substr(w,4)
    WHEN length(w)>=5 AND left(w,3)='{BEH}{AL}' THEN substr(w,4)
    WHEN length(w)>=5 AND left(w,3)='{KAF}{AL}' THEN substr(w,4)
    WHEN length(w)>=5 AND left(w,3)='{FEH}{AL}' THEN substr(w,4)
    WHEN length(w)>=4 AND left(w,2)='{LAM}{LAM}' THEN substr(w,3)
    WHEN length(w)>=4 AND left(w,1)='{WAW}' THEN substr(w,2)
    ELSE w END"""
    sufs = ("ها", "ان", "ات",
            "ون", "ين", "يه",
            "ية", "ه", "ة", "ي")
    ctes = ["vocab AS (SELECT DISTINCT tok FROM rawtoks)",
            f"ar1 AS (SELECT tok, {norm} AS w FROM vocab)",
            f"ar2 AS (SELECT tok, {pre} AS w FROM ar1)"]
    prev = "ar2"
    for i, suf in enumerate(sufs):
        n = len(suf)
        name = "stemmap" if i == len(sufs) - 1 else f"ar{i + 3}"
        col = "stem" if name == "stemmap" else "w"
        ctes.append(
            f"{name} AS (SELECT tok, CASE WHEN length(w)>={n + 2} AND "
            f"right(w,{n})='{suf}' THEN left(w,length(w)-{n}) "
            f"ELSE w END AS {col} FROM {prev})"
        )
        prev = name
    return ",\n".join(ctes)


def _persian_sql_pipeline() -> str:
    """Persian has no stemmer (PersianAnalyzer.cs chain ends at the stop
    filter); normalization already ran pre-stop via _PRE_NORM_SQL."""
    return ("vocab AS (SELECT DISTINCT tok FROM rawtoks),\n"
            "stemmap AS (SELECT tok, tok AS stem FROM vocab)")


def _sorani_sql_pipeline() -> str:
    """Independent SQL SoraniStemmer (normalization already ran pre-stop):
    postposition -> possessive pronoun -> the ordered return chain of
    ezafe/definite/plural/demonstrative suffixes -> stemmap(tok, stem)."""
    DA, NA, EWE = "دا", "نا", "ەوە"
    MAN, YAN, TAN = ("مان", "یان",
                     "تان")
    post = f"""CASE
    WHEN length(tok)>5 AND right(tok,2)='{DA}' THEN left(tok,length(tok)-2)
    WHEN length(tok)>4 AND right(tok,2)='{NA}' THEN left(tok,length(tok)-1)
    WHEN length(tok)>6 AND right(tok,3)='{EWE}' THEN left(tok,length(tok)-3)
    ELSE tok END"""
    poss = f"""CASE WHEN length(w)>6 AND right(w,3) IN ('{MAN}','{YAN}','{TAN}')
    THEN left(w,length(w)-3) ELSE w END"""
    # (suffix, min len exclusive, strip count) in the reference's if-chain
    # order; every branch returns, so the chain flattens to one CASE
    chain = (
        ("ێکی", 6, 3),        # -eki (indef sg ezafe)
        ("یەکی", 7, 4),  # -yeki
        ("ێک", 5, 2),              # -ek (indef sg)
        ("یەک", 6, 3),        # -yek
        ("ەکە", 6, 3),        # -eke (def sg)
        ("کە", 5, 2),              # -ke
        ("ەکان", 7, 4),  # -ekan (def pl)
        ("کان", 6, 3),        # -kan
        ("یانی", 7, 4),  # -yani (indef pl ezafe)
        ("انی", 6, 3),        # -ani
        ("یان", 6, 3),        # -yan (indef pl)
        ("ان", 5, 2),              # -an
        ("یانە", 7, 4),  # -yane (dem pl)
        ("انە", 6, 3),        # -ane
        ("ایە", 5, 2),        # -aye (dem sg)
        ("ەیە", 5, 2),        # -eye
        ("ە", 4, 1),                    # -e
        ("ی", 4, 1),                    # -i (abs sg ezafe)
    )
    arms = "\n    ".join(
        f"WHEN length(w)>{mn} AND right(w,{len(suf)})='{suf}' "
        f"THEN left(w,length(w)-{cut})"
        for suf, mn, cut in chain
    )
    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
ck1 AS (SELECT tok, {post} AS w FROM vocab),
ck2 AS (SELECT tok, {poss} AS w FROM ck1),
stemmap AS (SELECT tok, CASE
    {arms}
    ELSE w END AS stem FROM ck2)"""


def _galician_sql_pipeline() -> str:
    """Independent SQL GalicianMinimalStemmer: the galician.rslp Plural
    step (min word size 3, step suffix 's'), first matching rule with its
    min-stem guard and whole-word exception set, one application. (The
    rule table is shared declaration-order DATA, like the Latvian affix
    tuple; the SQL evaluation path is independent of the Python one.)"""
    from .functions.lightstem import _GL_PLURAL_RULES

    arms = []
    for suf, mn, repl, exc in _GL_PLURAL_RULES:
        cond = f"right(tok,{len(suf)})='{suf}' AND length(tok)-{len(suf)}>={mn}"
        if exc:
            lst = ", ".join(f"'{w}'" for w in sorted(exc))
            cond += f" AND tok NOT IN ({lst})"
        rep = f"left(tok,length(tok)-{len(suf)})"
        if repl:
            rep += f" || '{repl}'"
        arms.append(f"WHEN {cond} THEN {rep}")
    body = "\n    ".join(arms)
    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
stemmap AS (SELECT tok, CASE
    WHEN length(tok)<3 OR right(tok,1)!='s' THEN tok
    {body}
    ELSE tok END AS stem FROM vocab)"""




def _greek_norm_sql(e: str) -> str:
    """GreekLowerCaseFilter.cs extras after generic lower(): final sigma ->
    sigma, tonos/dialytika folds, reserved U+03A2 -> final sigma."""
    return ("translate(" + e + ", 'ςάέήίϊΐύϋΰόώ΢', "
            "'σαεηιιιυυυοως')")


_PRE_NORM_SQL["greek"] = _greek_norm_sql


def _greek_sql_pipeline() -> str:
    """Independent SQL GreekStemmer: each of the 23 rules is one CTE (with
    a nested SELECT computing the stripped base and fire flag where the
    rule has an add-back); Rule21 gates on length(w)=length(tok), sound
    because every rule's add-back is strictly shorter than its strip so a
    fired rule always shortens the token. Exception sets are shared DATA
    tables (functions/lightstem._EL_EXC*) like the Latvian/Galician rule
    tuples; the evaluation logic is this CASE chain."""
    from .functions.lightstem import (
        _EL_EXC4, _EL_EXC6, _EL_EXC7, _EL_EXC8A, _EL_EXC8B, _EL_EXC9,
        _EL_EXC12A, _EL_EXC12B, _EL_EXC13, _EL_EXC14, _EL_EXC15A,
        _EL_EXC15B, _EL_EXC16, _EL_EXC17, _EL_EXC18, _EL_EXC19,
    )

    def inlist(ws):
        return ", ".join("'" + w + "'" for w in sorted(ws))

    def ends_any(var, sufs):
        by_len = {}
        for sf in sufs:
            by_len.setdefault(len(sf), []).append(sf)
        return " OR ".join(
            f"right({var},{n}) IN ({inlist(g)})"
            for n, g in sorted(by_len.items())
        )

    def strip_case(var, tiers):
        # tiers: (min_exclusive, sufs (equal length), cut)
        arms = []
        for mn, sufs, cut in tiers:
            n = len(sufs[0])
            arms.append(
                f"WHEN length({var})>{mn} AND right({var},{n}) IN "
                f"({inlist(sufs)}) THEN left({var},length({var})-{cut})"
            )
        return "CASE\n    " + "\n    ".join(arms) + f"\n    ELSE {var} END"

    VOW = "('α','ε','η','ι','ο','υ','ω')"
    VOW_NOY = "('α','ε','η','ι','ο','ω')"
    ctes = ["vocab AS (SELECT DISTINCT tok FROM rawtoks)"]
    prev = "vocab"

    def add(name, sql):
        nonlocal prev
        ctes.append(f"{name} AS ({sql})")
        prev = name

    # guard: words < 4 chars bypass the whole stemmer — handled at the end
    # Rule 0: pure strip table
    r0 = strip_case("tok", (
        (9, ("καθεστωτοσ", "καθεστωτων"), 4),
        (8, ("γεγονοτοσ", "γεγονοτων"), 4),
        (8, ("καθεστωτα",), 3),
        (7, ("τατογιου", "τατογιων"), 4),
        (7, ("γεγονοτα",), 3),
        (7, ("καθεστωσ",), 2),
        (6, ("σκαγιου", "σκαγιων", "ολογιου", "ολογιων", "κρεατοσ",
             "κρεατων", "περατοσ", "περατων", "τερατοσ", "τερατων"), 4),
        (6, ("τατογια",), 3),
        (6, ("γεγονοσ",), 2),
        (5, ("φαγιου", "φαγιων", "σογιου", "σογιων"), 4),
        (5, ("σκαγια", "ολογια", "κρεατα", "περατα", "τερατα"), 3),
        (4, ("φαγια", "σογια", "φωτοσ", "φωτων"), 3),
        (4, ("κρεασ", "περασ", "τερασ"), 2),
        (3, ("φωτα",), 2),
        (2, ("φωσ",), 1),
    ))
    add("el0", f"SELECT tok, {r0} AS w FROM {prev}")

    def addback_rule(name, fire, cut, keep_cond, addback):
        # strip `cut` when `fire`; re-append `addback` when keep_cond(base)
        add(name, f"""SELECT tok, CASE WHEN NOT fire THEN w
      WHEN {keep_cond} THEN base || '{addback}'
      ELSE base END AS w
  FROM (SELECT tok, w, {fire} AS fire,
               CASE WHEN {fire} THEN left(w,length(w)-{cut}) ELSE w END AS base
        FROM {prev})""")

    addback_rule(
        "el1", f"length(w)>4 AND ({ends_any('w', ('αδεσ', 'αδων'))})", 4,
        "NOT (" + ends_any("base", ("οκ", "μαμ", "μαν", "μπαμπ", "πατερ",
                                    "γιαγι", "νταντ", "κυρ", "θει",
                                    "πεθερ")) + ")",
        "αδ")
    addback_rule(
        "el2", f"length(w)>4 AND ({ends_any('w', ('εδεσ', 'εδων'))})", 4,
        ends_any("base", ("οπ", "ιπ", "εμπ", "υπ", "γηπ", "δαπ", "κρασπ",
                          "μιλ")),
        "εδ")
    addback_rule(
        "el3", f"length(w)>5 AND ({ends_any('w', ('ουδεσ', 'ουδων'))})", 5,
        ends_any("base", ("αρκ", "καλιακ", "πεταλ", "λιχ", "πλεξ", "σκ",
                          "σ", "φλ", "φρ", "βελ", "λουλ", "χν", "σπ",
                          "τραγ", "φε")),
        "ουδ")
    addback_rule(
        "el4", f"length(w)>3 AND ({ends_any('w', ('εωσ', 'εων'))})", 3,
        f"base IN ({inlist(_EL_EXC4)})", "ε")
    # Rule 5: two alternative strips, same add-back condition
    add("el5", f"""SELECT tok, CASE
      WHEN f2 AND right(base,1) IN {VOW} THEN base || 'ι'
      WHEN f2 THEN base
      ELSE w END AS w
  FROM (SELECT tok, w, f2,
               CASE WHEN fa THEN left(w,length(w)-2)
                    WHEN fb THEN left(w,length(w)-3) ELSE w END AS base
        FROM (SELECT tok, w, fa, fb, fa OR fb AS f2
              FROM (SELECT tok, w,
                           length(w)>2 AND right(w,2)='ια' AS fa,
                           length(w)>3 AND NOT (length(w)>2 AND right(w,2)='ια')
                             AND right(w,3) IN ('ιου','ιων') AS fb
                    FROM {prev})))""")
    # Rule 6
    add("el6", f"""SELECT tok, CASE WHEN NOT fire THEN w
      WHEN right(base,1) IN {VOW} OR base IN ({inlist(_EL_EXC6)})
        THEN base || 'ικ'
      ELSE base END AS w
  FROM (SELECT tok, w, fa OR fb AS fire,
               CASE WHEN fa THEN left(w,length(w)-3)
                    WHEN fb THEN left(w,length(w)-4) ELSE w END AS base
        FROM (SELECT tok, w,
                     length(w)>3 AND right(w,3) IN ('ικα','ικο') AS fa,
                     length(w)>4 AND NOT (length(w)>3 AND right(w,3) IN ('ικα','ικο'))
                       AND right(w,4) IN ('ικου','ικων') AS fb
              FROM {prev}))""")
    # Rule 7
    pa7 = ("CASE WHEN length(w)>7 AND right(w,7)='ηθηκαμε' "
           "THEN left(w,length(w)-7) "
           "WHEN length(w)>6 AND right(w,6)='ουσαμε' "
           "THEN left(w,length(w)-6) "
           "WHEN length(w)>5 AND right(w,5) IN ('αγαμε','ησαμε','ηκαμε') "
           "THEN left(w,length(w)-5) ELSE w END")
    add("el7", f"""SELECT tok, CASE WHEN spec THEN left(w,4)
      WHEN length(pa)>3 AND right(pa,3)='αμε' THEN
        CASE WHEN left(pa,length(pa)-3) IN ({inlist(_EL_EXC7)})
             THEN left(pa,length(pa)-3) || 'αμ'
             ELSE left(pa,length(pa)-3) END
      ELSE pa END AS w
  FROM (SELECT tok, w, length(w)=5 AND right(w,5)='αγαμε' AS spec,
               {pa7} AS pa
        FROM {prev})""")
    # Rule 8: tiered strip + exc8a 'αγαν' add-back, then the ανε phase
    pa8 = ("CASE WHEN length(w)>8 AND right(w,8)='ιουντανε' "
           "THEN left(w,length(w)-8) "
           "WHEN length(w)>7 AND right(w,7) IN ('ιοντανε','ουντανε','ηθηκανε') "
           "THEN left(w,length(w)-7) "
           "WHEN length(w)>6 AND right(w,6) IN ('ιοτανε','οντανε','ουσανε') "
           "THEN left(w,length(w)-6) "
           "WHEN length(w)>5 AND right(w,5) IN ('αγανε','ησανε','οτανε','ηκανε') "
           "THEN left(w,length(w)-5) ELSE w END")
    add("el8", f"""SELECT tok, CASE
      WHEN length(pb)>3 AND right(pb,3)='ανε' THEN
        CASE WHEN right(left(pb,length(pb)-3),1) IN {VOW_NOY}
               OR left(pb,length(pb)-3) IN ({inlist(_EL_EXC8B)})
             THEN left(pb,length(pb)-3) || 'αν'
             ELSE left(pb,length(pb)-3) END
      ELSE pb END AS w
  FROM (SELECT tok, CASE WHEN pa != w AND pa IN ({inlist(_EL_EXC8A)})
                         THEN pa || 'αγαν' ELSE pa END AS pb
        FROM (SELECT tok, w, {pa8} AS pa FROM {prev}))""")
    # Rule 9: ησετε pre-strip, then ετε with the big condition
    cond9 = (f"base IN ({inlist(_EL_EXC9)}) OR right(base,1) IN {VOW_NOY} OR "
             + ends_any("base", ("οδ", "αιρ", "φορ", "ταθ", "διαθ", "σχ",
                                 "ενδ", "ευρ", "τιθ", "υπερθ", "ραθ",
                                 "ενθ", "ροθ", "σθ", "πυρ", "αιν", "συνδ",
                                 "συν", "συνθ", "χωρ", "πον", "βρ", "καθ",
                                 "ευθ", "εκθ", "νετ", "ρον", "αρκ", "βαρ",
                                 "βολ", "ωφελ")))
    add("el9", f"""SELECT tok, CASE WHEN NOT fire THEN pa
      WHEN {cond9} THEN base || 'ετ'
      ELSE base END AS w
  FROM (SELECT tok, pa, length(pa)>3 AND right(pa,3)='ετε' AS fire,
               left(pa,length(pa)-3) AS base
        FROM (SELECT tok, CASE WHEN length(w)>5 AND right(w,5)='ησετε'
                               THEN left(w,length(w)-5) ELSE w END AS pa
              FROM {prev}))""")
    # Rule 10: οντασ/ωντασ with the αρχ/κρε restores
    add("el10", f"""SELECT tok, CASE WHEN NOT fire THEN w
      WHEN length(base)=3 AND base='αρχ' THEN base || 'οντ'
      WHEN right(base,3)='κρε' THEN base || 'ωντ'
      ELSE base END AS w
  FROM (SELECT tok, w,
               length(w)>5 AND right(w,5) IN ('οντασ','ωντασ') AS fire,
               left(w,length(w)-5) AS base
        FROM {prev})""")
    # Rule 11
    add("el11", f"""SELECT tok, CASE
      WHEN fa AND length(base)=2 AND base='ον' THEN base || 'ομαστ'
      WHEN fa THEN base
      WHEN fb AND length(baseb)=2 AND baseb='ον' THEN baseb || 'ομαστ'
      WHEN fb THEN baseb
      ELSE w END AS w
  FROM (SELECT tok, w,
               length(w)>6 AND right(w,6)='ομαστε' AS fa,
               length(w)>7 AND NOT (length(w)>6 AND right(w,6)='ομαστε')
                 AND right(w,7)='ιομαστε' AS fb,
               left(w,length(w)-6) AS base,
               left(w,length(w)-7) AS baseb
        FROM {prev})""")
    # Rule 12: two sequential conditional strips
    add("el12", f"""SELECT tok, CASE WHEN length(pa)>4 AND right(pa,4)='εστε' THEN
        CASE WHEN left(pa,length(pa)-4) IN ({inlist(_EL_EXC12B)})
             THEN left(pa,length(pa)-4) || 'εστ'
             ELSE left(pa,length(pa)-4) END
      ELSE pa END AS w
  FROM (SELECT tok, CASE WHEN length(w)>5 AND right(w,5)='ιεστε' THEN
               CASE WHEN left(w,length(w)-5) IN ({inlist(_EL_EXC12A)})
                    THEN left(w,length(w)-5) || 'ιεστ'
                    ELSE left(w,length(w)-5) END
             ELSE w END AS pa
        FROM {prev})""")
    # Rule 13: ηθηκ pre-strip then ηκ phase
    pa13 = ("CASE WHEN length(w)>6 AND right(w,6)='ηθηκεσ' "
            "THEN left(w,length(w)-6) "
            "WHEN length(w)>5 AND right(w,5) IN ('ηθηκα','ηθηκε') "
            "THEN left(w,length(w)-5) ELSE w END")
    cond13 = (f"base IN ({inlist(_EL_EXC13)}) OR "
              + ends_any("base", ("σκωλ", "σκουλ", "ναρθ", "σφ", "οθ",
                                  "πιθ")))
    add("el13", f"""SELECT tok, CASE WHEN NOT fire THEN pa
      WHEN {cond13} THEN base || 'ηκ'
      ELSE base END AS w
  FROM (SELECT tok, pa, fa OR fb AS fire,
               CASE WHEN fa THEN left(pa,length(pa)-4)
                    WHEN fb THEN left(pa,length(pa)-3) ELSE pa END AS base
        FROM (SELECT tok, pa,
                     length(pa)>4 AND right(pa,4)='ηκεσ' AS fa,
                     length(pa)>3 AND NOT (length(pa)>4 AND right(pa,4)='ηκεσ')
                       AND right(pa,3) IN ('ηκα','ηκε') AS fb
              FROM (SELECT tok, {pa13} AS pa FROM {prev})))""")
    # Rule 14
    cond14 = (f"base IN ({inlist(_EL_EXC14)}) OR right(base,1) IN {VOW} OR "
              + ends_any("base", ("ποδαρ", "βλεπ", "πανταχ", "φρυδ",
                                  "μαντιλ", "μαλλ", "κυματ", "λαχ", "ληγ",
                                  "φαγ", "ομ", "πρωτ")))
    add("el14", f"""SELECT tok, CASE WHEN NOT fire THEN w
      WHEN {cond14} THEN base || 'ουσ'
      ELSE base END AS w
  FROM (SELECT tok, w, fa OR fb AS fire,
               CASE WHEN fa THEN left(w,length(w)-5)
                    WHEN fb THEN left(w,length(w)-4) ELSE w END AS base
        FROM (SELECT tok, w,
                     length(w)>5 AND right(w,5)='ουσεσ' AS fa,
                     length(w)>4 AND NOT (length(w)>5 AND right(w,5)='ουσεσ')
                       AND right(w,4) IN ('ουσα','ουσε') AS fb
              FROM {prev}))""")
    # Rule 15: cond1 AND NOT cond2
    cond15a = (f"base IN ({inlist(_EL_EXC15A)}) OR "
               + ends_any("base", ("οφ", "πελ", "χορτ", "λλ", "σφ", "ρπ",
                                   "φρ", "πρ", "λοχ", "σμην")))
    cond15b = f"base IN ({inlist(_EL_EXC15B)}) OR right(base,4)='κολλ'"
    add("el15", f"""SELECT tok, CASE WHEN NOT fire THEN w
      WHEN ({cond15a}) AND NOT ({cond15b}) THEN base || 'αγ'
      ELSE base END AS w
  FROM (SELECT tok, w, fa OR fb AS fire,
               CASE WHEN fa THEN left(w,length(w)-4)
                    WHEN fb THEN left(w,length(w)-3) ELSE w END AS base
        FROM (SELECT tok, w,
                     length(w)>4 AND right(w,4)='αγεσ' AS fa,
                     length(w)>3 AND NOT (length(w)>4 AND right(w,4)='αγεσ')
                       AND right(w,3) IN ('αγα','αγε') AS fb
              FROM {prev}))""")
    # Rule 16
    add("el16", f"""SELECT tok, CASE WHEN NOT fire THEN w
      WHEN base IN ({inlist(_EL_EXC16)}) THEN base || 'ησ'
      ELSE base END AS w
  FROM (SELECT tok, w, fa OR fb AS fire,
               CASE WHEN fa THEN left(w,length(w)-4)
                    WHEN fb THEN left(w,length(w)-3) ELSE w END AS base
        FROM (SELECT tok, w,
                     length(w)>4 AND right(w,4)='ησου' AS fa,
                     length(w)>3 AND NOT (length(w)>4 AND right(w,4)='ησου')
                       AND right(w,3) IN ('ησε','ησα') AS fb
              FROM {prev}))""")
    addback_rule("el17", "length(w)>4 AND right(w,4)='ηστε'", 4,
                 f"base IN ({inlist(_EL_EXC17)})", "ηστ")
    # Rules 18/19: tiered strip + whole-base exception with explicit write
    for nm, sufs6, suf4, addbk, exc in (
        ("el18", ("ησουνε", "ηθουνε"), "ουνε", "ουν", _EL_EXC18),
        ("el19", ("ησουμε", "ηθουμε"), "ουμε", "ουμ", _EL_EXC19),
    ):
        add(nm, f"""SELECT tok, CASE WHEN NOT fire THEN w
      WHEN base IN ({inlist(exc)}) THEN base || '{addbk}'
      ELSE base END AS w
  FROM (SELECT tok, w, fa OR fb AS fire,
               CASE WHEN fa THEN left(w,length(w)-6)
                    WHEN fb THEN left(w,length(w)-4) ELSE w END AS base
        FROM (SELECT tok, w,
                     length(w)>6 AND right(w,6) IN ({inlist(sufs6)}) AS fa,
                     length(w)>4 AND NOT (length(w)>6 AND right(w,6) IN ({inlist(sufs6)}))
                       AND right(w,4)='{suf4}' AS fb
              FROM {prev}))""")
    # Rule 20
    add("el20", f"""SELECT tok, CASE
      WHEN length(w)>5 AND right(w,5) IN ('ματων','ματοσ')
        THEN left(w,length(w)-3)
      WHEN length(w)>4 AND right(w,4)='ματα' THEN left(w,length(w)-2)
      ELSE w END AS w
  FROM {prev}""")
    # Rule 21: only when NO short rule fired (length unchanged — every
    # fired rule strictly shortens), plus the trailing-vowel strip
    r21 = strip_case("w", (
        (9, ("ιοντουσαν",), 9),
        (8, ("ιομασταν", "ιοσασταν", "ιουμαστε", "οντουσαν"), 8),
        (7, ("ιεμαστε", "ιεσαστε", "ιομουνα", "ιοσαστε", "ιοσουνα",
             "ιουνται", "ιουνταν", "ηθηκατε", "ομασταν", "οσασταν",
             "ουμαστε"), 7),
        (6, ("ιομουν", "ιονταν", "ιοσουν", "ηθειτε", "ηθηκαν", "ομουνα",
             "οσαστε", "οσουνα", "ουνται", "ουνταν", "ουσατε"), 6),
        (5, ("αγατε", "ιεμαι", "ιεται", "ιεσαι", "ιοταν", "ιουμα",
             "ηθεισ", "ηθουν", "ηκατε", "ησατε", "ησουν", "ομουν",
             "ονται", "ονταν", "οσουν", "ουμαι", "ουσαν"), 5),
        (4, ("αγαν", "αμαι", "ασαι", "αται", "ειτε", "εσαι", "εται",
             "ηδεσ", "ηδων", "ηθει", "ηκαν", "ησαν", "ησει", "ησεσ",
             "ομαι", "οταν"), 4),
        (3, ("αει", "εισ", "ηθω", "ησω", "ουν", "ουσ"), 3),
        (2, ("αν", "ασ", "αω", "ει", "εσ", "ησ", "οι", "οσ", "ου", "υσ",
             "ων"), 2),
    ))
    # append the vowel-strip arm by swapping the ELSE
    r21v = r21.replace(
        "\n    ELSE w END",
        f"\n    WHEN length(w)>1 AND right(w,1) IN {VOW} "
        "THEN left(w,length(w)-1)\n    ELSE w END")
    add("el21", f"""SELECT tok,
       CASE WHEN length(w) = length(tok) THEN {r21v} ELSE w END AS w
  FROM {prev}""")
    # Rule 22 + the len<4 bypass
    add("stemmap", f"""SELECT tok, CASE WHEN length(tok)<4 THEN tok
      WHEN right(w,5) IN ('εστερ','εστατ') THEN left(w,length(w)-5)
      WHEN right(w,4) IN ('οτερ','οτατ','υτερ','υτατ','ωτερ','ωτατ')
        THEN left(w,length(w)-4)
      ELSE w END AS stem
  FROM {prev}""")
    return ",\n".join(ctes)




def _hindi_norm_expr(e: str) -> str:
    """HindiNormalizer.cs as SQL: the dead-n two-char replace, then the
    per-char fold table — generated from the SAME codepoint map the
    Python mirror uses (functions/lightstem._HI_NORM_MAP), so no
    decomposed-literal transcription hazard."""
    from .functions.lightstem import _HI_NORM_MAP

    mapped = [(k, v) for k, v in _HI_NORM_MAP.items() if v is not None]
    deleted = [k for k, v in _HI_NORM_MAP.items() if v is None]
    frm = "".join(chr(k) for k, _ in mapped) + "".join(map(chr, deleted))
    to = "".join(v for _, v in mapped)
    return f"translate(replace({e}, 'न्', 'ं'), '{frm}', '{to}')"


def _indic_norm_cte() -> str:
    """IndicNormalizer.cs as an EXACT recursive-CTE port of the index scan
    over `prevocab(tok)` -> `inorm(tok, s, i)`: one recursion step per
    character position, composing the first matching decomposition row
    (3-char rows precede their 2-char fallbacks in table order, ZWJ as the
    0xFF third char, same-writing-system checks via the shared block
    bases). Tokens with no Indic chars bypass the recursion entirely."""
    from .functions.lightstem import _INDIC_DECOMP, _INDIC_SCRIPTS

    flag_to_idx = {flag: i for i, (flag, _b) in enumerate(_INDIC_SCRIPTS)}
    arms = []
    for c0, c1, c2, res, flags in _INDIC_DECOMP:
        idxs = [str(i) for f, i in flag_to_idx.items() if flags & f]
        cond = (f"fb IN ({', '.join(idxs)}) AND off0={c0} AND off1={c1}"
                + ("" if c2 < 0 else f" AND off2={c2}"))
        consumed = 2 if c2 < 0 else 3
        arms.append(
            f"WHEN {cond} THEN left(s,i-1) || chr(sb + {res}) || "
            f"substr(s, i + {consumed})"
        )
    compose = "CASE\n      " + "\n      ".join(arms) + "\n      ELSE s END"
    return f"""inorm AS (
  SELECT tok, tok AS s, 1 AS i FROM prevocab
  WHERE regexp_matches(tok, '[\u0900-\u0D7F]')
  UNION ALL
  SELECT tok, CASE WHEN fb >= 0 THEN {compose} ELSE s END AS s, i + 1 AS i
  FROM (
    SELECT tok, s, i, fb, sb,
           CASE WHEN fb >= 0 THEN cp0 - sb ELSE -1 END AS off0,
           CASE WHEN fb >= 0 AND i < length(s)
                     AND cp1 >= sb AND cp1 < sb + 128
                THEN cp1 - sb ELSE -1 END AS off1,
           CASE WHEN i + 2 > length(s) THEN -1
                WHEN substr(s, i + 2, 1) = chr(8205) THEN 255
                WHEN fb >= 0 AND cp2 >= sb AND cp2 < sb + 128
                THEN cp2 - sb ELSE -1 END AS off2
    FROM (
      SELECT tok, s, i, cp0, cp1, cp2,
             CASE WHEN cp0 >= 2304 AND cp0 < 3456
                  THEN (cp0 - 2304) // 128 ELSE -1 END AS fb,
             CASE WHEN cp0 >= 2304 AND cp0 < 3456
                  THEN 2304 + 128 * ((cp0 - 2304) // 128) ELSE -1 END AS sb
      FROM (
        SELECT tok, s, i, unicode(substr(s, i, 1)) AS cp0,
               CASE WHEN i < length(s)
                    THEN unicode(substr(s, i + 1, 1)) ELSE -1 END AS cp1,
               CASE WHEN i + 2 <= length(s)
                    THEN unicode(substr(s, i + 2, 1)) ELSE -1 END AS cp2
        FROM inorm WHERE i <= length(s)
      )
    )
  )
)"""


def _hindi_prenorm_ctes(stop_list: str) -> str:
    """The hindi pre-stop chain over exploded raw tokens: Indic scan
    (recursive), then the HindiNormalizer fold, then the (normalized) stop
    filter — HindiAnalyzer.cs order. Emits `rawtoks(docid, ord, tok)`."""
    return f"""prevocab AS (SELECT DISTINCT tok FROM rawtoks0),
{_indic_norm_cte()},
normmap AS (
  SELECT tok, {_hindi_norm_expr('s')} AS ntok FROM inorm WHERE i > length(s)
  UNION ALL
  SELECT tok, {_hindi_norm_expr('tok')} AS ntok FROM prevocab
  WHERE NOT regexp_matches(tok, '[\u0900-\u0D7F]')
),
rawtoks AS (
  SELECT r.docid, r.ord, m.ntok AS tok
  FROM rawtoks0 r JOIN normmap m ON r.tok = m.tok
  WHERE m.ntok NOT IN ({stop_list})
)"""


def _hindi_sql_pipeline() -> str:
    """Independent SQL HindiStemmer (normalization already ran pre-stop):
    the five suffix tiers with their length guards (shared DATA table
    functions/lightstem._HI_SUF, independent CASE evaluation)."""
    from .functions.lightstem import _HI_SUF

    arms = []
    for mn, sufs, cut in _HI_SUF:
        n = len(sufs[0])
        lst = ", ".join(f"'{sf}'" for sf in sufs)
        arms.append(
            f"WHEN length(tok)>{mn} AND right(tok,{n}) IN ({lst}) "
            f"THEN left(tok,length(tok)-{cut})"
        )
    body = "\n    ".join(arms)
    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
stemmap AS (SELECT tok, CASE
    {body}
    ELSE tok END AS stem FROM vocab)"""




def _brazilian_sql_pipeline() -> str:
    """Independent SQL BrazilianStemmer: CT folding, the exact-loop R1/R2
    (regexp boundary with the same last-char exclusion) and three-branch
    RV regions frozen from the pre-stemming CT, Step1/Step2 generated
    from the shared declaration-order tables (including the unassigned
    "logias" quirk), then Step3/4/5 keyed on the altered flag with
    removals conditional on the CURRENT ct suffix. Non-indexable terms
    (len <= 2 or >= 30 after folding) keep the raw token; non-letter
    terms return the folded CT unstemmed."""
    from .functions.lightstem import _BR_STEP1, _BR_STEP2

    V = "('a','e','i','o','u')"

    def r1_expr(src):
        return (f"CASE WHEN {src} IS NULL THEN NULL "
                f"WHEN length(regexp_extract({src}, '^[^aeiou]*[aeiou]+[^aeiou]')) "
                f"BETWEEN 1 AND length({src}) - 1 "
                f"THEN substr({src}, length(regexp_extract({src}, "
                f"'^[^aeiou]*[aeiou]+[^aeiou]')) + 1) ELSE NULL END")

    rv_expr = f"""CASE
      WHEN length(ct) >= 2 AND substr(ct,2,1) NOT IN {V}
           AND length(regexp_extract(substr(ct,3,length(ct)-3), '^[^aeiou]*'))
               < length(ct) - 3
        THEN substr(ct, length(regexp_extract(substr(ct,3,length(ct)-3),
                                              '^[^aeiou]*')) + 4)
      WHEN length(ct) >= 3 AND substr(ct,1,1) IN {V} AND substr(ct,2,1) IN {V}
           AND length(regexp_extract(substr(ct,3,length(ct)-3), '^[aeiou]*'))
               < length(ct) - 3
        THEN substr(ct, length(regexp_extract(substr(ct,3,length(ct)-3),
                                              '^[aeiou]*')) + 4)
      WHEN length(ct) > 3 THEN substr(ct, 4)
      ELSE NULL END"""

    s1_conds, s1_cts = [], []
    for suf, region, repl, guard, preceded, assign in _BR_STEP1:
        n = len(suf)
        cond = f"right(ct,{n})='{suf}' AND right({region},{n})='{suf}'"
        if guard:
            cond = f"length(ct)>={guard} AND " + cond
        if preceded:
            m = len(preceded) + n
            cond += f" AND right(ct,{m})='{preceded}{suf}'"
        s1_conds.append(cond)
        out = f"left(ct,length(ct)-{n})" + (f" || '{repl}'" if repl else "")
        s1_cts.append(out if assign else "ct")
    fired1 = ("CASE WHEN " + " OR ".join(f"({c})" for c in s1_conds)
              + " THEN TRUE ELSE FALSE END")
    ct1 = ("CASE " + " ".join(
        f"WHEN {c} THEN {o}" for c, o in zip(s1_conds, s1_cts))
        + " ELSE ct END")

    s2_arms_fire, s2_arms_ct = [], []
    for mn, sufs in _BR_STEP2:
        ln = len(sufs[0])
        lst = ", ".join(f"'{s}'" for s in dict.fromkeys(sufs))
        c = f"length(rv)>={mn} AND right(rv,{ln}) IN ({lst})"
        s2_arms_fire.append(f"WHEN {c} THEN TRUE")
        s2_arms_ct.append(f"WHEN {c} THEN left(ct,length(ct)-{ln})")
    fired2 = ("CASE WHEN rv IS NULL THEN FALSE "
              + " ".join(s2_arms_fire) + " ELSE FALSE END")
    ct2 = ("CASE WHEN rv IS NULL THEN ct "
           + " ".join(s2_arms_ct) + " ELSE ct END")

    rm = ("CASE WHEN right({v},{n})='{s}' "
          "THEN left({v},length({v})-{n}) ELSE {v} END")

    def rmv(v, s):
        return rm.format(v=v, n=len(s), s=s)

    step34 = f"""CASE
      WHEN rv IS NULL THEN ct
      WHEN altered THEN
        CASE WHEN right(rv,2)='ci' THEN {rmv('ct', 'i')} ELSE ct END
      WHEN right(rv,2)='os' THEN {rmv('ct', 'os')}
      WHEN right(rv,1)='a' THEN {rmv('ct', 'a')}
      WHEN right(rv,1)='i' THEN {rmv('ct', 'i')}
      WHEN right(rv,1)='o' THEN {rmv('ct', 'o')}
      ELSE ct END"""
    ct_e = rmv("ct", "e")
    step5 = f"""CASE
      WHEN rv IS NULL OR right(rv,1) != 'e' THEN ct
      WHEN right(rv,3)='gue' THEN {rm.format(v=ct_e, n=1, s='u')}
      WHEN right(rv,3)='cie' THEN {rm.format(v=ct_e, n=1, s='i')}
      ELSE {ct_e} END"""

    fold = ("translate(tok, 'áâãéêíóôõúüçñ', "
            "'aaaeeiooouucn')")
    q = chr(39)
    edge_chars = ['"', q, '-', ',', ';', '.', '?', '!']
    edge = "(" + ", ".join(
        "'" + (c if c != q else c + c) + "'" for c in edge_chars
    ) + ")"
    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
br0 AS (
  SELECT tok, CASE WHEN length(c1)>=2 AND right(c1,1) IN {edge}
                   THEN left(c1,length(c1)-1) ELSE c1 END AS ct
  FROM (SELECT tok, CASE WHEN length(c0)>=2 AND left(c0,1) IN {edge}
                         THEN substr(c0,2) ELSE c0 END AS c1
        FROM (SELECT tok, {fold} AS c0 FROM vocab))
),
br1 AS (
  SELECT tok, ct, r1, {r1_expr('r1')} AS r2, rv
  FROM (SELECT tok, ct, {r1_expr('ct')} AS r1, {rv_expr} AS rv FROM br0)
),
br2 AS (
  SELECT tok, ct AS ct0, r1, r2, rv, {fired1} AS fired1, {ct1} AS ct
  FROM br1
),
br3 AS (
  SELECT tok, ct0, rv,
         CASE WHEN fired1 THEN ct ELSE {ct2} END AS ct,
         fired1 OR (NOT fired1 AND {fired2}) AS altered
  FROM br2
),
br4 AS (SELECT tok, ct0, rv, altered, {step34} AS ct FROM br3),
br5 AS (SELECT tok, ct0, rv, {step5} AS ct FROM br4),
stemmap AS (
  SELECT tok, CASE
      WHEN NOT (length(ct0) > 2 AND length(ct0) < 30) THEN tok
      WHEN NOT regexp_matches(ct0, concat(chr(94), '[[:alpha:]]+$'))
        THEN ct0
      ELSE ct END AS stem
  FROM br5
)"""




def _cjk_width_sql(e: str) -> str:
    """CJKWidthFilter.cs as SQL, generated from the SAME tables the Python
    mirror uses. Staged to equal the reference's in-place scan (the scan
    converts a kana to fullwidth BEFORE a following voice mark examines
    it): 1) fullwidth ASCII + halfwidth kana -> fullwidth, voice marks
    left alone; 2) the combine pairs (fullwidth prev + halfwidth mark);
    3) remaining marks -> the combining codepoints 3099/309A."""
    from .functions.cjk import (
        _KANA_COMBINE_HALF_VOICED,
        _KANA_COMBINE_VOICED,
        _KANA_NORM,
    )

    q = chr(39)
    frm = "".join(chr(c) for c in range(0xFF01, 0xFF5F))
    to = "".join(chr(c - 0xFEE0) for c in range(0xFF01, 0xFF5F))
    frm += "".join(chr(c) for c in range(0xFF65, 0xFF9E))
    to += "".join(chr(_KANA_NORM[c - 0xFF65]) for c in range(0xFF65, 0xFF9E))
    out = (f"translate({e}, '{frm.replace(q, q * 2)}', "
           f"'{to.replace(q, q * 2)}')")
    for mark, table in ((0xFF9E, _KANA_COMBINE_VOICED),
                        (0xFF9F, _KANA_COMBINE_HALF_VOICED)):
        for off, diff in enumerate(table):
            if diff:
                prev = 0x30A6 + off
                out = (f"replace({out}, '{chr(prev)}{chr(mark)}', "
                       f"'{chr(prev + diff)}')")
    return (f"translate({out}, '{chr(0xFF9E)}{chr(0xFF9F)}', "
            f"'{chr(0x3099)}{chr(0x309A)}')")


_CJK_RANGES = (
    "\u4E00-\u9FFF\u3400-\u4DBF\uF900-\uFAFF\u3041-\u3096"
    "\u30A1-\u30FA\u30FC\uAC00-\uD7A3"
)
_CJK_CLASS = "[" + _CJK_RANGES + "]"
_CJK_NEG_CLASS = "[^" + _CJK_RANGES + "]"


def _cjk_expand_sql(e: str) -> str:
    """CJKBigramFilter.cs per-token expansion: alternating CJK / non-CJK
    segments; a flagged segment of n >= 2 chars becomes its n-1 bigrams,
    everything else passes whole."""
    alt = f"{_CJK_CLASS}+|{_CJK_NEG_CLASS}+"
    segs = f"regexp_extract_all({e}, '{alt}')"
    return (
        f"flatten(list_transform({segs}, seg -> "
        f"CASE WHEN regexp_matches(seg, '^{_CJK_CLASS}') AND length(seg) >= 2 "
        f"THEN list_transform(range(1, length(seg)), i -> substr(seg, CAST(i AS INT), 2)) "
        f"ELSE [seg] END))"
    )


def _danish_sql_pipeline() -> str:
    """Independent SQL snowball DanishStemmer over the distinct raw tokens
    -> stemmap(tok, stem). The R1 start (p1) is computed ONCE as a column
    via the `^[^v]*[v]+[^v]` prefix regexp (the gopast-v/gopast-non-v
    idiom), clamped to >=3 (danish.sbl `hop 3`), null region for words
    under 3 chars or with no non-vowel after a vowel; every suffix arm
    then carries its own in-R1 fit check (length(w)-L >= p1 — deletions
    never touch text before p1, so p1 stays valid across steps). Suffix
    DATA is shared with functions/snowball.py (declaration-order tuples);
    the CASE evaluation here is an independent expression of the same
    longest-match-within-R1 semantics."""
    from .functions.snowball import _DA_MAIN, _DA_OTHER, _DA_S_ENDINGS

    v = "aeiouyæåø"
    p1 = (
        f"CASE WHEN length(tok) < 3 THEN length(tok) "
        f"WHEN regexp_extract(tok, '^[^{v}]*[{v}]+[^{v}]') = '' "
        f"THEN length(tok) ELSE greatest(length(regexp_extract(tok, "
        f"'^[^{v}]*[{v}]+[^{v}]')), 3) END"
    )
    s_end = ", ".join(f"'{c}'" for c in sorted(_DA_S_ENDINGS))
    main_arms = []
    for suf, act in _DA_MAIN:
        n = len(suf)
        cond = f"length(w)-{n} >= p1 AND right(w,{n})='{suf}'"
        if act == 1:
            main_arms.append(f"WHEN {cond} THEN left(w,length(w)-{n})")
        else:
            main_arms.append(
                f"WHEN {cond} THEN (CASE WHEN substr(w,length(w)-1,1) IN "
                f"({s_end}) THEN left(w,length(w)-1) ELSE w END)"
            )
    main = "CASE\n    " + "\n    ".join(main_arms) + "\n    ELSE w END"
    pair = (
        "CASE WHEN length(w)-2 >= p1 AND right(w,2) IN "
        "('gd','dt','gt','kt') THEN left(w,length(w)-1) ELSE w END"
    )
    other_arms, fired_arms = [], []
    for suf, act in _DA_OTHER:
        n = len(suf)
        cond = f"length(w)-{n} >= p1 AND right(w,{n})='{suf}'"
        if act == 1:
            other_arms.append(f"WHEN {cond} THEN left(w,length(w)-{n})")
            fired_arms.append(f"WHEN {cond} THEN 1")
        else:
            other_arms.append(f"WHEN {cond} THEN left(w,length(w)-1)")
            fired_arms.append(f"WHEN {cond} THEN 0")
    other = "CASE\n    " + "\n    ".join(other_arms) + "\n    ELSE w END"
    fired = "CASE " + " ".join(fired_arms) + " ELSE 0 END"
    vlist = ", ".join(f"'{c}'" for c in v)
    undouble = (
        f"CASE WHEN length(w)-1 >= p1 AND substr(w,length(w),1) NOT IN "
        f"({vlist}) AND substr(w,length(w)-1,1) = substr(w,length(w),1) "
        f"THEN left(w,length(w)-1) ELSE w END"
    )
    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
da0 AS (SELECT tok, tok AS w, {p1} AS p1 FROM vocab),
da1 AS (SELECT tok, p1, {main} AS w FROM da0),
da2 AS (SELECT tok, p1, {pair} AS w FROM da1),
da3 AS (SELECT tok, p1,
        CASE WHEN right(w,4)='igst' THEN left(w,length(w)-2) ELSE w END AS w
        FROM da2),
da4 AS (SELECT tok, p1, {other} AS w, {fired} AS pair_again FROM da3),
da5 AS (SELECT tok, p1,
        CASE WHEN pair_again=1 THEN {pair.replace(chr(10), ' ')} ELSE w END
        AS w FROM da4),
stemmap AS (SELECT tok, {undouble} AS stem FROM da5)"""


def _dutch_sql_pipeline() -> str:
    """Independent SQL snowball DutchStemmer -> stemmap(tok, stem).

    The prelude's i/y marking is a RECURSIVE CTE building the marked
    string one char at a time (the decision at position p reads the
    MARKED char at p-1 — uppercase I/Y are consonants — and the ORIGINAL
    char at p+1; see snowball._nl_mark for why that single pass equals
    the generated cursor machine). prelude() emits WITH RECURSIVE for
    this analyzer. R1 is clamped to >=3; R2 derives from the UNclamped
    p1. Steps mirror dutch.sbl longest-match-THEN-conditions (a failed
    condition does not retry a shorter suffix). The StemmerOverrideFilter
    dict (DutchAnalyzer.cs DEFAULT_STEM_DICT) short-circuits at the end
    on the ORIGINAL token."""
    V = "'a','e','i','o','u','y','è'"
    VJ = V + ",'j'"
    VI = V + ",'I'"
    vcls = "aeiouyè"
    reg = f"'^[^{vcls}]*[{vcls}]+[^{vcls}]'"

    def und(x):
        return (f"CASE WHEN right({x},2) IN ('dd','kk','tt') "
                f"THEN left({x},length({x})-1) ELSE {x} END")

    def en_cond(L):
        return (
            f"length(w)-{L} >= p1 AND length(w)-{L} >= 1 "
            f"AND substr(w,length(w)-{L},1) NOT IN ({V}) "
            f"AND NOT (length(w)-{L} >= 3 "
            f"AND substr(w,length(w)-{L}-2,3)='gem')"
        )

    e_cond = (
        f"right(w,1)='e' AND length(w)-1 >= p1 AND length(w) >= 2 "
        f"AND substr(w,length(w)-1,1) NOT IN ({V})"
    )
    heid_cond = (
        "right(w,4)='heid' AND length(w)-4 >= p2 AND NOT "
        "(length(w) >= 5 AND substr(w,length(w)-4,1)='c')"
    )
    ig_cond = (
        "right(w,2)='ig' AND length(w)-2 >= p2 AND NOT "
        "(length(w) >= 3 AND substr(w,length(w)-2,1)='e')"
    )
    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
nl0 AS (SELECT tok,
        CASE WHEN left(t,1)='y' THEN 'Y' || substr(t,2) ELSE t END AS b
        FROM (SELECT tok, translate(tok,'áäéëíïóöúü','aaeeiioouu') AS t
              FROM vocab)),
nlr AS (
  SELECT tok, b, 1 AS i, left(b,1) AS acc FROM nl0
  UNION ALL
  SELECT tok, b, i+1,
    acc || CASE
      WHEN right(acc,1) IN ({V}) AND substr(b,i+1,1)='i'
           AND substr(b,i+2,1) IN ({V}) THEN 'I'
      WHEN right(acc,1) IN ({V}) AND substr(b,i+1,1)='y' THEN 'Y'
      ELSE substr(b,i+1,1) END
  FROM nlr WHERE i < length(b)),
nlm AS (SELECT tok, acc AS m FROM nlr WHERE i = length(b)),
nlp AS (SELECT tok, m, length(regexp_extract(m, {reg})) AS p1raw FROM nlm),
nlq AS (SELECT tok, m AS w,
  CASE WHEN p1raw=0 THEN length(m) ELSE greatest(p1raw,3) END AS p1,
  CASE WHEN p1raw=0 THEN length(m)
       WHEN length(regexp_extract(substr(m,p1raw+1), {reg}))=0
            THEN length(m)
       ELSE p1raw + length(regexp_extract(substr(m,p1raw+1), {reg})) END
  AS p2 FROM nlp),
nl1 AS (SELECT tok, p1, p2, CASE
  WHEN right(w,5)='heden' THEN
    CASE WHEN length(w)-5 >= p1 THEN left(w,length(w)-5) || 'heid'
         ELSE w END
  WHEN right(w,3)='ene' THEN
    CASE WHEN {en_cond(3)} THEN {und("left(w,length(w)-3)")} ELSE w END
  WHEN right(w,2)='en' THEN
    CASE WHEN {en_cond(2)} THEN {und("left(w,length(w)-2)")} ELSE w END
  WHEN right(w,2)='se' THEN
    CASE WHEN length(w)-2 >= p1 AND substr(w,length(w)-2,1) NOT IN ({VJ})
         THEN left(w,length(w)-2) ELSE w END
  WHEN right(w,1)='s' THEN
    CASE WHEN length(w)-1 >= p1 AND length(w) >= 2
              AND substr(w,length(w)-1,1) NOT IN ({VJ})
         THEN left(w,length(w)-1) ELSE w END
  ELSE w END AS w FROM nlq),
nl2 AS (SELECT tok, p1, p2,
  CASE WHEN {e_cond} THEN {und("left(w,length(w)-1)")} ELSE w END AS w,
  CASE WHEN {e_cond} THEN 1 ELSE 0 END AS ef FROM nl1),
nl3a AS (SELECT tok, p1, p2, ef,
  CASE WHEN {heid_cond} THEN left(w,length(w)-4) ELSE w END AS w,
  CASE WHEN {heid_cond} THEN 1 ELSE 0 END AS hf FROM nl2),
nl3b AS (SELECT tok, p1, p2, ef,
  CASE WHEN hf=1 AND right(w,2)='en' AND {en_cond(2)}
       THEN {und("left(w,length(w)-2)")} ELSE w END AS w FROM nl3a),
nl4 AS (SELECT tok, p1, p2,
  CASE
  WHEN right(w,4)='lijk' THEN
    CASE WHEN length(w)-4 >= p2 THEN left(w,length(w)-4) ELSE w END
  WHEN right(w,4)='baar' THEN
    CASE WHEN length(w)-4 >= p2 THEN left(w,length(w)-4) ELSE w END
  WHEN right(w,3)='end' OR right(w,3)='ing' THEN
    CASE WHEN length(w)-3 >= p2 THEN left(w,length(w)-3) ELSE w END
  WHEN right(w,3)='bar' THEN
    CASE WHEN length(w)-3 >= p2 AND ef=1 THEN left(w,length(w)-3)
         ELSE w END
  WHEN right(w,2)='ig' THEN
    CASE WHEN {ig_cond} THEN left(w,length(w)-2) ELSE w END
  ELSE w END AS w,
  CASE WHEN right(w,4)='lijk' AND length(w)-4 >= p2 THEN 1 ELSE 0 END
  AS lj,
  CASE WHEN right(w,4) NOT IN ('lijk','baar')
            AND (right(w,3)='end' OR right(w,3)='ing')
            AND length(w)-3 >= p2 THEN 1 ELSE 0 END AS gx
  FROM nl3b),
nl5 AS (SELECT tok, p1, p2, CASE
  WHEN gx=1 THEN
    CASE WHEN {ig_cond} THEN left(w,length(w)-2) ELSE {und("w")} END
  WHEN lj=1 THEN
    CASE WHEN {e_cond} THEN {und("left(w,length(w)-1)")} ELSE w END
  ELSE w END AS w FROM nl4),
nl6 AS (SELECT tok, CASE
  WHEN length(w) >= 4 AND substr(w,length(w),1) NOT IN ({VI})
       AND substr(w,length(w)-2,2) IN ('aa','ee','oo','uu')
       AND substr(w,length(w)-3,1) NOT IN ({V})
  THEN left(w,length(w)-2) || right(w,1) ELSE w END AS w FROM nl5),
stemmap AS (SELECT tok, CASE
  WHEN tok='fiets' THEN 'fiets'
  WHEN tok='bromfiets' THEN 'bromfiets'
  WHEN tok='ei' THEN 'eier'
  WHEN tok='kind' THEN 'kinder'
  ELSE replace(replace(w,'I','i'),'Y','y') END AS stem FROM nl6)"""


def _armenian_sql_pipeline() -> str:
    """Independent SQL snowball ArmenianStemmer -> stemmap(tok, stem).
    pV (after the first vowel) and the standard R2 are columns; each of
    the four passes (ending/verb/adjective/noun) is one CASE whose arms
    come from the shared suffix tuples (functions/snowball), longest
    first with the in-window fit in the arm condition — the ending
    pass's R2 check sits INSIDE the selected arm (fail-no-retry)."""
    from .functions.snowball import (
        _HY_ADJ, _HY_ENDING, _HY_NOUN, _HY_VERB, _HY_VOWELS,
    )

    v = "".join(sorted(_HY_VOWELS))
    reg = f"'^[^{v}]*[{v}]+[^{v}]'"
    pv_expr = (
        f"CASE WHEN regexp_extract(tok, '^[^{v}]*[{v}]') = '' "
        f"THEN length(tok) "
        f"ELSE length(regexp_extract(tok, '^[^{v}]*[{v}]')) END"
    )
    p1 = (
        f"CASE WHEN regexp_extract(tok, {reg}) = '' THEN length(tok) "
        f"ELSE length(regexp_extract(tok, {reg})) END"
    )

    def pass_case(table, with_r2):
        arms = []
        for suf in table:
            L = len(suf)
            cond = f"length(w)-{L} >= pv AND right(w,{L})='{suf}'"
            strip = f"left(w,length(w)-{L})"
            if with_r2:
                strip = (
                    f"(CASE WHEN length(w)-{L} >= p2 THEN {strip} "
                    f"ELSE w END)"
                )
            arms.append(f"WHEN {cond} THEN {strip}")
        return "CASE\n    " + "\n    ".join(arms) + "\n    ELSE w END"

    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
hy0 AS (SELECT tok, tok AS w, {pv_expr} AS pv, {p1} AS p1x FROM vocab),
hy1 AS (SELECT tok, w, pv,
  CASE WHEN p1x >= length(tok) THEN length(tok)
       WHEN regexp_extract(substr(tok,p1x+1), {reg}) = '' THEN length(tok)
       ELSE p1x + length(regexp_extract(substr(tok,p1x+1), {reg})) END
  AS p2 FROM hy0),
hy2 AS (SELECT tok, pv, p2, {pass_case(_HY_ENDING, True)} AS w FROM hy1),
hy3 AS (SELECT tok, pv, p2, {pass_case(_HY_VERB, False)} AS w FROM hy2),
hy4 AS (SELECT tok, pv, p2, {pass_case(_HY_ADJ, False)} AS w FROM hy3),
stemmap AS (SELECT tok, {pass_case(_HY_NOUN, False)} AS stem FROM hy4)"""


def _catalan_sql_pipeline() -> str:
    """Independent SQL snowball CatalanStemmer -> stemmap(tok, stem).
    Standard R1/R2 as columns (the gopast-v/gopast-non-v prefix regexp,
    null region at word end); each pass is one CASE whose arms come from
    the shared (suffix, region, replacement) tuples (functions/snowball,
    longest first). Unlike the pV-limited Armenian arms, the region test
    sits INSIDE the selected arm — snowball among matching here is
    unlimited, and a region failure fails the whole pass without retrying
    a shorter suffix (CatalanStemmer.cs returns false from the switch).
    The standard-or-verb alternative is a COALESCE over two such CASEs
    (both NULL-on-fail, evaluated against the same pre-pass w); pronoun
    and residual failures keep w. Cleaning is one forward translate
    (a_0: accent folds + middle dot -> '.')."""
    from .functions.snowball import (
        _CA_PRON, _CA_RES, _CA_STD, _CA_VERB, _CA_VOWELS,
    )

    v = "".join(sorted(_CA_VOWELS))
    reg = f"'^[^{v}]*[{v}]+[^{v}]'"
    p1x = (
        f"CASE WHEN regexp_extract(tok, {reg}) = '' THEN length(tok) "
        f"ELSE length(regexp_extract(tok, {reg})) END"
    )

    def pass_case(table, keep_w: bool) -> str:
        arms = []
        fail = "w" if keep_w else "NULL"
        for suf, r, repl in table:
            n = len(suf)
            sufq = suf.replace("'", "''")
            rewrite = f"left(w,length(w)-{n})"
            if repl:
                rewrite = f"{rewrite} || '{repl}'"
            arms.append(
                f"WHEN right(w,{n})='{sufq}' THEN (CASE WHEN "
                f"length(w)-{n} >= {'p1' if r == 1 else 'p2'} "
                f"THEN {rewrite} ELSE {fail} END)"
            )
        return "CASE\n    " + "\n    ".join(arms) + f"\n    ELSE {fail} END"

    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
ca0 AS (SELECT tok, tok AS w, {p1x} AS p1x FROM vocab),
ca1 AS (SELECT tok, w, p1x AS p1,
  CASE WHEN p1x >= length(tok) THEN length(tok)
       WHEN regexp_extract(substr(tok,p1x+1), {reg}) = '' THEN length(tok)
       ELSE p1x + length(regexp_extract(substr(tok,p1x+1), {reg})) END
  AS p2 FROM ca0),
ca2 AS (SELECT tok, p1, p2, {pass_case(_CA_PRON, True)} AS w FROM ca1),
ca3 AS (SELECT tok, p1, p2,
  COALESCE({pass_case(_CA_STD, False)}, {pass_case(_CA_VERB, False)}, w)
  AS w FROM ca2),
ca4 AS (SELECT tok, {pass_case(_CA_RES, True)} AS w FROM ca3),
stemmap AS (SELECT tok,
  translate(w, 'àáèéìíïòóúü·', 'aaeeiiioouu.') AS stem FROM ca4)"""


def _romanian_sql_pipeline() -> str:
    """Independent SQL snowball RomanianStemmer -> stemmap(tok, stem).

    The prelude's u/i-between-vowels marking is the same recursive
    per-char scan shape as the Dutch prelude (the left flank reads the
    MARKED accumulator, the right flank the original string), run only
    over tokens containing a candidate trigram — the rest short-circuit.
    pV is the Spanish-style RV branch CASE; p1/p2 the standard prefix
    regexps. step_0 / standard / vowel passes check their region INSIDE
    the selected longest-match arm (fail keeps w — the reference's
    fail-no-retry `do` wrapper); the combo repeat is a recursive CTE
    (each fire strictly shortens, so min_by(length) is the fixpoint);
    the verb pass carries the pV window fit in the MATCH condition
    itself (setlimit tomark pV limits the among search). Suffix DATA is
    shared with functions/snowball.py."""
    from .functions.snowball import (
        _RO_COMBO, _RO_STD, _RO_STEP0, _RO_VERB, _RO_VOWEL_SUF, _RO_VOWELS,
    )

    v = "".join(sorted(_RO_VOWELS))
    V = ", ".join(f"'{c}'" for c in sorted(_RO_VOWELS))
    reg = f"'^[^{v}]*[{v}]+[^{v}]'"

    step0_arms = []
    for suf, repl in _RO_STEP0:
        L = len(suf)
        rewrite = f"left(w,length(w)-{L})"
        if repl:
            rewrite = f"{rewrite} || '{repl}'"
        cond = f"length(w)-{L} >= p1"
        if suf == "ile":
            cond += (
                " AND NOT (length(w) >= 5 AND "
                "substr(w,length(w)-4,2)='ab')"
            )
        step0_arms.append(
            f"WHEN right(w,{L})='{suf}' THEN "
            f"(CASE WHEN {cond} THEN {rewrite} ELSE w END)"
        )
    step0 = "CASE\n    " + "\n    ".join(step0_arms) + "\n    ELSE w END"

    combo_arms = []
    for suf, repl in _RO_COMBO:
        L = len(suf)
        combo_arms.append(
            f"WHEN right(w,{L})='{suf}' THEN (CASE WHEN "
            f"length(w)-{L} >= p1 THEN left(w,length(w)-{L}) || '{repl}' "
            f"ELSE w END)"
        )
    combo = "CASE\n    " + "\n    ".join(combo_arms) + "\n    ELSE w END"

    std_arms, std_fired_arms = [], []
    for suf, act in _RO_STD:
        L = len(suf)
        if act == 1:
            rewrite = f"left(w,length(w)-{L})"
            cond = f"length(w)-{L} >= p2"
        elif act == 2:
            # iune/iuni: in R2 AND preceded by ţ, which becomes t
            rewrite = f"left(w,length(w)-{L+1}) || 't'"
            cond = (
                f"length(w)-{L} >= p2 AND length(w) >= {L + 1} "
                f"AND substr(w,length(w)-{L},1)='ţ'"
            )
        else:
            rewrite = f"left(w,length(w)-{L}) || 'ist'"
            cond = f"length(w)-{L} >= p2"
        std_arms.append(
            f"WHEN right(w,{L})='{suf}' THEN "
            f"(CASE WHEN {cond} THEN {rewrite} ELSE w END)"
        )
        # the flag is set on FIRE, not on change: 'ist' -> 'ist' leaves w
        # identical but still marks standard_suffix_removed
        std_fired_arms.append(
            f"WHEN right(w,{L})='{suf}' THEN "
            f"(CASE WHEN {cond} THEN 1 ELSE fired END)"
        )
    std = "CASE\n    " + "\n    ".join(std_arms) + "\n    ELSE w END"
    std_fired = (
        "CASE\n    " + "\n    ".join(std_fired_arms) + "\n    ELSE fired END"
    )

    verb_arms = []
    for suf, act in _RO_VERB:
        L = len(suf)
        match = f"length(w)-{L} >= pv AND right(w,{L})='{suf}'"
        if act == 2:
            verb_arms.append(
                f"WHEN {match} THEN left(w,length(w)-{L})"
            )
        else:
            verb_arms.append(
                f"WHEN {match} THEN (CASE WHEN length(w)-{L} > pv AND "
                f"(substr(w,length(w)-{L},1) NOT IN ({V}) OR "
                f"substr(w,length(w)-{L},1)='u') "
                f"THEN left(w,length(w)-{L}) ELSE w END)"
            )
    verb = "CASE\n    " + "\n    ".join(verb_arms) + "\n    ELSE w END"

    vow_arms = []
    for suf in _RO_VOWEL_SUF:
        L = len(suf)
        vow_arms.append(
            f"WHEN right(w,{L})='{suf}' THEN (CASE WHEN "
            f"length(w)-{L} >= pv THEN left(w,length(w)-{L}) ELSE w END)"
        )
    vow = "CASE\n    " + "\n    ".join(vow_arms) + "\n    ELSE w END"

    pv_expr = f"""CASE
    WHEN length(m) < 2 THEN length(m)
    WHEN substr(m,2,1) NOT IN ({V}) THEN
      CASE WHEN regexp_extract(substr(m,3), '^[^{v}]*[{v}]') = ''
           THEN length(m)
           ELSE 2 + length(regexp_extract(substr(m,3), '^[^{v}]*[{v}]'))
      END
    WHEN substr(m,1,1) IN ({V}) THEN
      CASE WHEN regexp_extract(substr(m,3), '^[{v}]*[^{v}]') = ''
           THEN length(m)
           ELSE 2 + length(regexp_extract(substr(m,3), '^[{v}]*[^{v}]'))
      END
    ELSE least(3, length(m)) END"""

    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
ror(tok, b, i, acc) AS (
  SELECT tok, tok, 1, left(tok,1) FROM vocab
  WHERE regexp_matches(tok, '[{v}][ui][{v}]')
  UNION ALL
  SELECT tok, b, i+1,
    acc || CASE
      WHEN substr(b,i+1,1) IN ('u','i') AND right(acc,1) IN ({V})
           AND substr(b,i+2,1) IN ({V})
      THEN upper(substr(b,i+1,1)) ELSE substr(b,i+1,1) END
  FROM ror WHERE i < length(b)),
rom AS (
  SELECT tok, acc AS m FROM ror WHERE i = length(b)
  UNION ALL
  SELECT tok, tok AS m FROM vocab
  WHERE NOT regexp_matches(tok, '[{v}][ui][{v}]')),
rop AS (SELECT tok, m, {pv_expr} AS pv,
  CASE WHEN regexp_extract(m, {reg}) = '' THEN length(m)
       ELSE length(regexp_extract(m, {reg})) END AS p1 FROM rom),
roq AS (SELECT tok, m AS w, pv, p1,
  CASE WHEN p1 >= length(m) THEN length(m)
       WHEN regexp_extract(substr(m,p1+1), {reg}) = '' THEN length(m)
       ELSE p1 + length(regexp_extract(substr(m,p1+1), {reg})) END
  AS p2 FROM rop),
ro0 AS (SELECT tok, pv, p1, p2, {step0} AS w FROM roq),
roc(tok, pv, p1, p2, w) AS (
  SELECT tok, pv, p1, p2, w FROM ro0
  UNION ALL
  SELECT tok, pv, p1, p2, {combo} AS w FROM roc
  WHERE ({combo}) <> w),
ro1 AS (SELECT r.tok, r.pv, r.p1, r.p2, r.w,
        CASE WHEN length(r.w) < length(s.w) THEN 1 ELSE 0 END AS fired
        FROM (SELECT tok, pv, p1, p2, min_by(w, length(w)) AS w
              FROM roc GROUP BY tok, pv, p1, p2) r
        JOIN ro0 s ON r.tok = s.tok),
ro2 AS (SELECT tok, pv, p1, p2, {std} AS w,
        {std_fired} AS fired FROM ro1),
ro3 AS (SELECT tok, pv,
        CASE WHEN fired = 1 THEN w ELSE {verb} END AS w FROM ro2),
ro4 AS (SELECT tok, {vow} AS w FROM ro3),
stemmap AS (SELECT tok,
  replace(replace(w,'I','i'),'U','u') AS stem FROM ro4)"""


def _basque_sql_pipeline() -> str:
    """Independent SQL snowball BasqueStemmer -> stemmap(tok, stem).

    The three rules' walking-left repeats (see functions/snowball
    basque_stem: each fire moves the suffix-end to the match start, and
    each stage resumes where the previous stopped) run as ONE recursive
    CTE over state (s, e, stage): stage 0 = aditzak repeat, 1 = izenak
    repeat, 2 = adjetiboak once, 3 = done. Each step evaluates the
    stage's longest-match arm as a STRUCT {len, ok, repl} — ok carries
    the region check for the SELECTED suffix only (fail-no-retry), and
    a failed rule advances the stage instead of rewriting. Suffix DATA
    is shared with functions/snowball.py; regions are absolute indexes
    into the original token, valid for the untouched prefix exactly as
    the generated runtime leaves them."""
    from .functions.snowball import (
        _EU_ADITZAK, _EU_ADJ, _EU_IZENAK, _EU_VOWELS,
    )

    v = "".join(sorted(_EU_VOWELS))
    V = ", ".join(f"'{c}'" for c in sorted(_EU_VOWELS))
    reg = f"'^[^{v}]*[{v}]+[^{v}]'"

    def rule_struct(table) -> str:
        arms = []
        for suf, act in table:
            L = len(suf)
            m = f"e >= {L} AND substr(s, e-{L}+1, {L}) = '{suf}'"
            if isinstance(act, str):
                ok = "TRUE"
                repl = act
            else:
                bound = "pv" if act == 1 else ("p2" if act == 2 else "p1")
                ok = f"e-{L} >= {bound}"
                repl = ""
            arms.append(
                f"WHEN {m} THEN {{'l': {L}, 'ok': {ok}, 'r': '{repl}'}}"
            )
        return (
            "CASE\n      " + "\n      ".join(arms)
            + "\n      ELSE {'l': 0, 'ok': FALSE, 'r': ''} END"
        )

    pv_expr = f"""CASE
    WHEN length(tok) < 2 THEN length(tok)
    WHEN substr(tok,2,1) NOT IN ({V}) THEN
      CASE WHEN regexp_extract(substr(tok,3), '^[^{v}]*[{v}]') = ''
           THEN length(tok)
           ELSE 2 + length(regexp_extract(substr(tok,3), '^[^{v}]*[{v}]'))
      END
    WHEN substr(tok,1,1) IN ({V}) THEN
      CASE WHEN regexp_extract(substr(tok,3), '^[{v}]*[^{v}]') = ''
           THEN length(tok)
           ELSE 2 + length(regexp_extract(substr(tok,3), '^[{v}]*[^{v}]'))
      END
    ELSE least(3, length(tok)) END"""

    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
eup AS (SELECT tok, {pv_expr} AS pv,
  CASE WHEN regexp_extract(tok, {reg}) = '' THEN length(tok)
       ELSE length(regexp_extract(tok, {reg})) END AS p1 FROM vocab),
euq AS (SELECT tok, pv, p1,
  CASE WHEN p1 >= length(tok) THEN length(tok)
       WHEN regexp_extract(substr(tok,p1+1), {reg}) = '' THEN length(tok)
       ELSE p1 + length(regexp_extract(substr(tok,p1+1), {reg})) END
  AS p2 FROM eup),
eur(tok, pv, p1, p2, s, e, stage) AS (
  SELECT tok, pv, p1, p2, tok, length(tok), 0 FROM euq
  UNION ALL
  SELECT tok, pv, p1, p2,
    CASE WHEN h.l > 0 AND h.ok
         THEN left(s, e - h.l) || h.r || substr(s, e + 1) ELSE s END,
    CASE WHEN h.l > 0 AND h.ok THEN e - h.l ELSE e END,
    CASE WHEN stage = 2 THEN 3
         WHEN h.l > 0 AND h.ok THEN stage ELSE stage + 1 END
  FROM (SELECT tok, pv, p1, p2, s, e, stage,
          CASE WHEN stage = 0 THEN {rule_struct(_EU_ADITZAK)}
               WHEN stage = 1 THEN {rule_struct(_EU_IZENAK)}
               ELSE {rule_struct(_EU_ADJ)} END AS h
        FROM eur WHERE stage < 3) t),
stemmap AS (SELECT tok, s AS stem FROM eur WHERE stage = 3)"""


def _irish_sql_pipeline() -> str:
    """Independent SQL snowball IrishStemmer -> stemmap(tok, stem):
    initial_morph as one longest-PREFIX-first CASE, regions on the
    REWRITTEN string (pV after the first vowel), then the noun/deriv/verb
    passes as check-inside-arm CASEs (fail keeps w). Suffix DATA shared
    with functions/snowball.py."""
    from .functions.snowball import (
        _GA_DERIV, _GA_INITIAL, _GA_NOUN, _GA_VERB, _GA_VOWELS,
    )

    v = "".join(sorted(_GA_VOWELS))
    reg = f"'^[^{v}]*[{v}]+[^{v}]'"

    init_arms = []
    for pre, repl in sorted(_GA_INITIAL, key=lambda e: -len(e[0])):
        L = len(pre)
        p = pre.replace("'", "''")
        init_arms.append(
            f"WHEN left(tok,{L})='{p}' THEN '{repl}' || substr(tok,{L + 1})"
        )
    init = "CASE\n    " + "\n    ".join(init_arms) + "\n    ELSE tok END"

    def pass_case(table, bounds):
        arms = []
        for suf, act in table:
            L = len(suf)
            if isinstance(act, str):
                arms.append(
                    f"WHEN right(w,{L})='{suf}' "
                    f"THEN left(w,length(w)-{L}) || '{act}'"
                )
            else:
                arms.append(
                    f"WHEN right(w,{L})='{suf}' THEN (CASE WHEN "
                    f"length(w)-{L} >= {bounds[act]} "
                    f"THEN left(w,length(w)-{L}) ELSE w END)"
                )
        return "CASE\n    " + "\n    ".join(arms) + "\n    ELSE w END"

    noun = pass_case(_GA_NOUN, {1: "p1", 2: "p2"})
    deriv = pass_case(_GA_DERIV, {1: "p2"})
    verb = pass_case(_GA_VERB, {1: "pv", 2: "p1"})

    return f"""vocab AS (SELECT DISTINCT tok FROM rawtoks),
ga0 AS (SELECT tok, {init} AS m FROM vocab),
ga1 AS (SELECT tok, m AS w,
  CASE WHEN regexp_extract(m, '^[^{v}]*[{v}]') = '' THEN length(m)
       ELSE length(regexp_extract(m, '^[^{v}]*[{v}]')) END AS pv,
  CASE WHEN regexp_extract(m, {reg}) = '' THEN length(m)
       ELSE length(regexp_extract(m, {reg})) END AS p1x FROM ga0),
ga2 AS (SELECT tok, w, pv, p1x AS p1,
  CASE WHEN p1x >= length(w) THEN length(w)
       WHEN regexp_extract(substr(w,p1x+1), {reg}) = '' THEN length(w)
       ELSE p1x + length(regexp_extract(substr(w,p1x+1), {reg})) END
  AS p2 FROM ga1),
ga3 AS (SELECT tok, pv, p1, p2, {noun} AS w FROM ga2),
ga4 AS (SELECT tok, pv, p1, p2, {deriv} AS w FROM ga3),
stemmap AS (SELECT tok, {verb} AS stem FROM ga4)"""




# -- Turkish snowball SQL mirror -----------------------------------------------
# Emitters for the TurkishStemmer pipeline: every mark routine evaluates on
# a head EXPRESSION with the cursor at its end (suffix-anchored), so the
# whole cursor machine becomes CASE arms over right()/substr() probes.

_TK_V = "aeıioöuü"
_TK_HARM = (("a", "aıou"), ("e", "eiöü"), ("ı", "aı"), ("i", "ei"),
         ("o", "ou"), ("ö", "öü"), ("u", "ou"), ("ü", "öü"))
_TK_VLIST = ", ".join(f"'{c}'" for c in _TK_V)
_TK_ULIST = ", ".join(f"'{c}'" for c in "ıiuü")


def _tk_h(x):
    """check_vowel_harmony with the cursor at the END of expression x."""
    alts = "|".join(f"[{p}].*{v}" for v, p in _TK_HARM)
    return f"regexp_matches({x}, '({alts})[^{_TK_V}]*$')"


def _tk_ch(x, k):
    """the char k positions before the end of x (k=0 = last char)."""
    return f"substr({x}, length({x})-{k}, 1)"


def _tk_opt_cons(x, L, ch):
    """mark_suffix_with_optional_{ch}_consonant after an among of length
    L consumed from the end of x: TOTAL consumed (L or L+1) or NULL."""
    return (
        f"CASE WHEN length({x}) >= {L+1} AND {_tk_ch(x, L)} = '{ch}' THEN "
        f"(CASE WHEN length({x}) >= {L+2} AND {_tk_ch(x, L+1)} IN ({_TK_VLIST}) "
        f"THEN {L+1} END) "
        f"WHEN length({x}) >= {L+2} AND {_tk_ch(x, L+1)} IN ({_TK_VLIST}) "
        f"THEN {L} END"
    )


def _tk_opt_U(x, L):
    return (
        f"CASE WHEN length({x}) >= {L+1} AND {_tk_ch(x, L)} IN ({_TK_ULIST}) THEN "
        f"(CASE WHEN length({x}) >= {L+2} AND {_tk_ch(x, L+1)} NOT IN ({_TK_VLIST}) "
        f"THEN {L+1} END) "
        f"WHEN length({x}) >= {L+2} AND {_tk_ch(x, L+1)} NOT IN ({_TK_VLIST}) "
        f"THEN {L} END"
    )


def _tk_among_case(x, sufs, inner):
    """longest-first among over sufs; inner(L) gives the THEN value."""
    bylen = {}
    for s in sufs:
        bylen.setdefault(len(s), []).append(s)
    arms = []
    for L in sorted(bylen, reverse=True):
        lst = ", ".join(f"'{s}'" for s in sorted(bylen[L]))
        arms.append(f"WHEN right({x},{L}) IN ({lst}) THEN {inner(L)}")
    return "CASE " + " ".join(arms) + " END"


def _tk_mark(x, sufs, harmony=True, opt=None):
    """a mark routine on head-expression x -> consumed INT or NULL.
    opt: ('n'|'s'|'y'|'U') optional-consonant/vowel helper."""
    if opt is None:
        inner = lambda L: str(L)
    elif opt == "U":
        inner = lambda L: "(" + _tk_opt_U(x, L) + ")"
    else:
        inner = lambda L: "(" + _tk_opt_cons(x, L, opt) + ")"
    body = _tk_among_case(x, sufs, inner)
    if harmony:
        return f"(CASE WHEN {_tk_h(x)} THEN ({body}) END)"
    return f"({body})"


def _tk_mark_sU(x):
    return (
        f"(CASE WHEN {_tk_h(x)} AND length({x}) >= 1 "
        f"AND {_tk_ch(x, 0)} IN ({_TK_ULIST}) THEN ({_tk_opt_cons(x, 1, 's')}) END)"
    )


def _tk_mark_yU(x):
    return (
        f"(CASE WHEN {_tk_h(x)} AND length({x}) >= 1 "
        f"AND {_tk_ch(x, 0)} IN ({_TK_ULIST}) THEN ({_tk_opt_cons(x, 1, 'y')}) END)"
    )


def _tk_mark_yken(x):
    return (
        f"(CASE WHEN right({x},3) = 'ken' THEN ({_tk_opt_cons(x, 3, 'y')}) END)"
    )




def _turkish_sql_pipeline() -> str:
    """Independent SQL snowball TurkishStemmer -> stemmap(tok, stem).

    Mirrors functions/turkish.py's pure-string derivation of
    TurkishStemmer.cs (see that module's docstring, incl. SnowballFilter's
    ignore-the-return-value contract):
    - check_vowel_harmony is ONE regexp per head (last vowel V + a partner
      anywhere left of it: '([partners].*V|...)[^vowels]*$').
    - phase A and the noun branch heads are chained MATERIALIZED stages
      (materialization stops DuckDB's CTE inlining from exponentially
      duplicating the mark expressions).
    - stem_suffix_chain_before_ki runs as TWO recursive CTEs sharing the
      level logic: tkP decides success per candidate (noun branches 3/6/8
      need the answer BEFORE committing — their fall-throughs run on the
      undeleted string), and tkC computes the value with (fallback, tail)
      state: the ndA branch descends keeping the fallback (failure
      cascades past it) and retains the matched nda+ki tail.
    - failed alternatives leak completed deletions into later alternatives
      exactly like the generated cursor machine (noun branches 2c/6/9).
    Suffix DATA is shared with functions/turkish.py; the CASE/CTE
    evaluation is an independent expression of the same semantics."""
    from .functions import turkish as T

    A = dict(
        ymus=T.A22_YMUS, ydu=T.A20_YDU, ysa=T.A21_YSA, casina=T.A19_CASINA,
        sunuz=T.A15_SUNUZ, lar=T.A16_LAR, yum=T.A12_YUM, sun=T.A13_SUN,
        yuz=T.A14_YUZ, nuz=T.A17_NUZ, dur=T.A18_DUR, poss=T.A0_POSS,
        lari=T.A1_LARI, nca=T.A11_NCA, nda=T.A7_NDA, na=T.A5_NA,
        ndan=T.A9_NDAN, nu=T.A2_NU, dan=T.A8_DAN, nun=T.A3_NUN,
        yla=T.A10_YLA, da=T.A6_DA, ya=T.A4_YA,
    )

    def ymus(x): return _tk_mark(x, A["ymus"], True, "y")
    def ydu(x): return _tk_mark(x, A["ydu"], True, "y")
    def ysa(x): return _tk_mark(x, A["ysa"], False, "y")
    def casina(x): return _tk_mark(x, A["casina"], False)
    def sunuz(x): return _tk_mark(x, A["sunuz"], False)
    def lar(x): return _tk_mark(x, A["lar"], True)
    def yum(x): return _tk_mark(x, A["yum"], True, "y")
    def sun(x): return _tk_mark(x, A["sun"], True)
    def yuz(x): return _tk_mark(x, A["yuz"], True, "y")
    def nuz(x): return _tk_mark(x, A["nuz"], True)
    def dur(x): return _tk_mark(x, A["dur"], True)
    def poss(x): return _tk_mark(x, A["poss"], False, "U")
    def lari(x): return _tk_mark(x, A["lari"], False)
    def nca(x): return _tk_mark(x, A["nca"], True, "n")
    def nda(x): return _tk_mark(x, A["nda"], True)
    def na(x): return _tk_mark(x, A["na"], True)
    def ndan(x): return _tk_mark(x, A["ndan"], True)
    def nu(x): return _tk_mark(x, A["nu"], True)
    def dan(x): return _tk_mark(x, A["dan"], True)
    def nun(x): return _tk_mark(x, A["nun"], True, "n")
    def yla(x): return _tk_mark(x, A["yla"], True, "y")
    def da(x): return _tk_mark(x, A["da"], True)
    def ya(x): return _tk_mark(x, A["ya"], True, "y")

    def strip(x, l):
        return f"left({x}, length({x}) - ({l}))"

    person5 = lambda x: (f"COALESCE({sunuz(x)}, {lar(x)}, {yum(x)}, "
                         f"{sun(x)}, {yuz(x)})")

    # ---------- phase A ----------
    PA = f"""tk0 AS MATERIALIZED (
      SELECT tok, tok AS s,
             length(regexp_replace(tok, '[^{_TK_V}]', '', 'g')) AS vcnt
      FROM (SELECT DISTINCT tok FROM rawtoks) v),
    tk1 AS MATERIALIZED (SELECT tok, s, vcnt,
      COALESCE({ymus('s')}, {ydu('s')}, {ysa('s')}, {_tk_mark_yken('s')}) AS b1,
      {casina('s')} AS c2a,
      {lar('s')} AS l3,
      {nuz('s')} AS n4,
      COALESCE({sunuz('s')}, {yuz('s')}, {sun('s')}, {yum('s')}) AS p5,
      {dur('s')} AS d6
      FROM tk0),
    tk2 AS MATERIALIZED (SELECT *,
      CASE WHEN c2a IS NOT NULL
           THEN COALESCE({person5(strip('s', 'c2a'))}, 0) END AS p2,
      CASE WHEN l3 IS NOT NULL THEN COALESCE(
        {dur(strip('s', 'l3'))}, {ydu(strip('s', 'l3'))},
        {ysa(strip('s', 'l3'))}, {ymus(strip('s', 'l3'))}, 0) END AS d3,
      CASE WHEN n4 IS NOT NULL THEN COALESCE(
        {ydu(strip('s', 'n4'))}, {ysa(strip('s', 'n4'))}) END AS m4,
      CASE WHEN p5 IS NOT NULL
           THEN COALESCE({ymus(strip('s', 'p5'))}, 0) END AS m5,
      CASE WHEN d6 IS NOT NULL
           THEN COALESCE({person5(strip('s', 'd6'))}, 0) END AS p6
      FROM tk1),
    tk3 AS MATERIALIZED (SELECT *,
      CASE WHEN c2a IS NOT NULL
           THEN {ymus(strip('s', 'c2a + p2'))} END AS m2,
      CASE WHEN d6 IS NOT NULL
           THEN {ymus(strip('s', 'd6 + p6'))} END AS m6
      FROM tk2),
    tkA AS MATERIALIZED (SELECT tok, s, vcnt,
      CASE
        WHEN vcnt < 2 THEN s
        WHEN b1 IS NOT NULL THEN {strip('s', 'b1')}
        WHEN c2a IS NOT NULL AND m2 IS NOT NULL
             THEN {strip('s', 'c2a + p2 + m2')}
        WHEN l3 IS NOT NULL THEN {strip(strip('s', 'l3'), 'd3')}
        WHEN n4 IS NOT NULL AND m4 IS NOT NULL THEN {strip('s', 'n4 + m4')}
        WHEN p5 IS NOT NULL THEN {strip('s', 'p5 + m5')}
        WHEN d6 IS NOT NULL THEN {strip('s',
            'd6 + (CASE WHEN m6 IS NOT NULL THEN p6 + m6 ELSE 0 END)')}
        ELSE s END AS s1,
      (vcnt < 2 OR (b1 IS NULL AND NOT (c2a IS NOT NULL AND m2 IS NOT NULL)
                    AND l3 IS NOT NULL)) AS skip_noun
      FROM tk3)"""


    NSTAGES = f"""tkN0 AS MATERIALIZED (SELECT tok, s1,
      {lar('s1')} AS b1l,
      {nca('s1')} AS b2c,
      COALESCE({nda('s1')}, {na('s1')}) AS b3c,
      COALESCE({ndan('s1')}, {nu('s1')}) AS b4c,
      {dan('s1')} AS b5c,
      COALESCE({nun('s1')}, {yla('s1')}) AS b6c,
      {lari('s1')} AS b7l,
      COALESCE({da('s1')}, {_tk_mark_yU('s1')}, {ya('s1')}) AS b9c,
      COALESCE({poss('s1')}, {_tk_mark_sU('s1')}) AS b10c
      FROM tkA WHERE NOT skip_noun),
    tkN0b AS MATERIALIZED (SELECT *,
      CASE WHEN b1l IS NOT NULL THEN {strip('s1', 'b1l')} END AS s2_1,
      CASE WHEN b2c IS NOT NULL THEN {strip('s1', 'b2c')} END AS s2_2,
      CASE WHEN b3c IS NOT NULL THEN {strip('s1', 'b3c')} END AS c3h,
      CASE WHEN b4c IS NOT NULL THEN {strip('s1', 'b4c')} END AS h4,
      CASE WHEN b5c IS NOT NULL THEN {strip('s1', 'b5c')} END AS s5,
      CASE WHEN b6c IS NOT NULL THEN {strip('s1', 'b6c')} END AS s6,
      CASE WHEN b9c IS NOT NULL THEN {strip('s1', 'b9c')} END AS s9,
      CASE WHEN b10c IS NOT NULL THEN {strip('s1', 'b10c')} END AS s10
      FROM tkN0),
    tkN1 AS MATERIALIZED (SELECT *,
      {lari('s2_2')} AS lari2,
      COALESCE({poss('s2_2')}, {_tk_mark_sU('s2_2')}) AS p2x,
      {lar('s2_2')} AS lar2,
      {lari('c3h')} AS lari3,
      {_tk_mark_sU('c3h')} AS su3,
      {_tk_mark_sU('h4')} AS su4,
      {lari('h4')} AS lari4,
      {poss('s5')} AS poss5,
      {lar('s5')} AS lar5,
      {lar('s6')} AS lar6,
      {poss('s9')} AS poss9,
      {lar('s9')} AS lar9,
      {lar('s10')} AS lar10
      FROM tkN0b),
    tkN2 AS MATERIALIZED (SELECT *,
      CASE WHEN p2x IS NOT NULL THEN {strip('s2_2', 'p2x')} END AS s3_2,
      CASE WHEN su3 IS NOT NULL THEN {strip('c3h', 'su3')} END AS s2_3,
      CASE WHEN su4 IS NOT NULL THEN {strip('h4', 'su4')} END AS s2_4,
      CASE WHEN poss5 IS NOT NULL THEN {strip('s5', 'poss5')} END AS s3_5,
      CASE WHEN lar6 IS NOT NULL THEN {strip('s6', 'lar6')} END AS s3_6,
      CASE WHEN poss9 IS NOT NULL THEN {strip('s9', 'poss9')} END AS s3_9,
      CASE WHEN lar10 IS NOT NULL THEN {strip('s10', 'lar10')} END AS s3_10
      FROM tkN1),
    tkN2b AS MATERIALIZED (SELECT *,
      {lar('s3_2')} AS lar3_2,
      {lar('s2_3')} AS lar2_3,
      {lar('s2_4')} AS lar2_4,
      {lar('s3_5')} AS lar3_5,
      {lar('s3_9')} AS lar3_9
      FROM tkN2)"""

    # ---- P machine ----
    h1x = "left(x, length(x)-2)"
    def deeper(l):
        return f"left(x, length(x)-2-({l}))"
    pstep = f"""CASE
       WHEN length(x) < 2 OR right(x,2) <> 'ki' THEN 'F'
       WHEN {da(h1x)} IS NOT NULL THEN 'T'
       WHEN {nun(h1x)} IS NOT NULL THEN 'T'
       WHEN {nda(h1x)} IS NOT NULL THEN (
         CASE WHEN {lari(deeper(nda(h1x)))} IS NOT NULL THEN 'T'
              WHEN {_tk_mark_sU(deeper(nda(h1x)))} IS NOT NULL THEN 'T'
              ELSE 'R' END)
       ELSE 'F' END"""
    PM = f"""tkP(tok, cand, x, st) AS (
      SELECT tok, cand, x, 'R' FROM (
        SELECT tok, 'c8' AS cand, s1 AS x FROM tkN0b
        UNION ALL
        SELECT tok, 'c3', c3h FROM tkN0b WHERE c3h IS NOT NULL
        UNION ALL
        SELECT tok, 'c6', s3_6 FROM tkN2 WHERE s3_6 IS NOT NULL) z
      UNION ALL
      SELECT tok, cand,
             CASE WHEN stp = 'R' THEN {deeper(nda(h1x))} ELSE x END,
             stp
      FROM (SELECT tok, cand, x, ({pstep}) AS stp FROM tkP WHERE st = 'R') q),
    tkPf AS MATERIALIZED (
      SELECT n.tok,
        COALESCE(BOOL_OR(p.cand='c3' AND p.st='T'), FALSE) AS p3,
        COALESCE(BOOL_OR(p.cand='c6' AND p.st='T'), FALSE) AS p6ok,
        COALESCE(BOOL_OR(p.cand='c8' AND p.st='T'), FALSE) AS p8
      FROM tkN0 n LEFT JOIN tkP p ON n.tok = p.tok AND p.st <> 'R'
      GROUP BY n.tok)"""

    # ---- branch-6 leak stage (needs p6ok) ----
    N6 = f"""tkN4 AS MATERIALIZED (SELECT n.*, f.p3, f.p6ok, f.p8,
      CASE WHEN n.lar6 IS NOT NULL AND NOT f.p6ok THEN n.s3_6
           WHEN n.lar6 IS NULL THEN n.s6 END AS s6b
      FROM tkN2b n JOIN tkPf f ON n.tok = f.tok),
    tkN5 AS MATERIALIZED (SELECT *,
      COALESCE({poss('s6b')}, {_tk_mark_sU('s6b')}) AS p6b
      FROM tkN4),
    tkN6 AS MATERIALIZED (SELECT *,
      CASE WHEN p6b IS NOT NULL THEN {strip('s6b', 'p6b')} END AS s3_6b
      FROM tkN5),
    tkN7 AS MATERIALIZED (SELECT *, {lar('s3_6b')} AS lar6b FROM tkN6)"""

    # ---- noun decision ----
    def RES(v): return f"{{'r': {v}, 'x': CAST(NULL AS VARCHAR), 't': ''}}"
    def CHX(v, t="''"): return f"{{'r': CAST(NULL AS VARCHAR), 'x': {v}, 't': {t}}}"
    ND = f"""tkND AS MATERIALIZED (SELECT tok, (CASE
      WHEN b1l IS NOT NULL THEN {CHX('s2_1')}
      WHEN b2c IS NOT NULL THEN (CASE
        WHEN lari2 IS NOT NULL THEN {RES(strip('s2_2', 'lari2'))}
        WHEN p2x IS NOT NULL THEN (CASE
          WHEN lar3_2 IS NOT NULL THEN {CHX(strip('s3_2', 'lar3_2'))}
          ELSE {RES('s3_2')} END)
        WHEN lar2 IS NOT NULL THEN {CHX(strip('s2_2', 'lar2'))}
        ELSE {RES('s2_2')} END)
      WHEN b3c IS NOT NULL AND lari3 IS NOT NULL
           THEN {RES(strip('c3h', 'lari3'))}
      WHEN b3c IS NOT NULL AND su3 IS NOT NULL THEN (CASE
        WHEN lar2_3 IS NOT NULL THEN {CHX(strip('s2_3', 'lar2_3'))}
        ELSE {RES('s2_3')} END)
      WHEN b3c IS NOT NULL AND p3 THEN {CHX('c3h', 'right(s1, b3c)')}
      WHEN b4c IS NOT NULL AND su4 IS NOT NULL THEN (CASE
        WHEN lar2_4 IS NOT NULL THEN {CHX(strip('s2_4', 'lar2_4'))}
        ELSE {RES('s2_4')} END)
      WHEN b4c IS NOT NULL AND lari4 IS NOT NULL
           THEN {RES(strip('h4', 'lari4'))}
      WHEN b5c IS NOT NULL THEN (CASE
        WHEN poss5 IS NOT NULL THEN (CASE
          WHEN lar3_5 IS NOT NULL THEN {CHX(strip('s3_5', 'lar3_5'))}
          ELSE {RES('s3_5')} END)
        WHEN lar5 IS NOT NULL THEN {CHX(strip('s5', 'lar5'))}
        ELSE {CHX('s5')} END)
      WHEN b6c IS NOT NULL THEN (CASE
        WHEN lar6 IS NOT NULL AND p6ok THEN {CHX('s3_6')}
        WHEN p6b IS NOT NULL THEN (CASE
          WHEN lar6b IS NOT NULL THEN {CHX(strip('s3_6b', 'lar6b'))}
          ELSE {RES('s3_6b')} END)
        ELSE {CHX('s6b')} END)
      WHEN b7l IS NOT NULL THEN {RES(strip('s1', 'b7l'))}
      WHEN p8 THEN {CHX('s1')}
      WHEN b9c IS NOT NULL THEN (CASE
        WHEN poss9 IS NOT NULL THEN (CASE
          WHEN lar3_9 IS NOT NULL THEN {CHX(strip('s3_9', 'lar3_9'))}
          ELSE {CHX('s3_9')} END)
        WHEN lar9 IS NOT NULL THEN {CHX(strip('s9', 'lar9'))}
        ELSE {RES('s9')} END)
      WHEN b10c IS NOT NULL THEN (CASE
        WHEN lar10 IS NOT NULL THEN {CHX('s3_10')}
        ELSE {RES('s10')} END)
      ELSE {RES('s1')} END) AS nd
      FROM tkN7)"""

    # ---- chain value machine ----
    def run_t(c, t):
        return f"{{'c': {c}, 't': {t}, 'fc': {c}, 'ft': {t}, 'st': 'R'}}"
    def done_t(c, t):
        return f"{{'c': {c}, 't': {t}, 'fc': {c}, 'ft': {t}, 'st': 'D'}}"
    CH = f"""tkC(tok, cur, tail, fbc, fbt, st) AS (
      SELECT tok, nd.x, nd.t, nd.x, nd.t, 'R' FROM tkND WHERE nd.x IS NOT NULL
      UNION ALL
      SELECT tok, h.c, h.t, h.fc, h.ft, h.st FROM (
        SELECT tok, (CASE
          WHEN NOT ki THEN {done_t('fbc', 'fbt')}
          WHEN daL IS NOT NULL THEN (CASE
            WHEN a1L IS NOT NULL THEN {run_t(strip('s2d', 'a1L'), 'tail')}
            WHEN a2L IS NOT NULL THEN (CASE
              WHEN a2lar IS NOT NULL THEN {run_t(strip('s3a2', 'a2lar'), 'tail')}
              ELSE {done_t('s3a2', 'tail')} END)
            ELSE {done_t('s2d', 'tail')} END)
          WHEN nunL IS NOT NULL THEN (CASE
            WHEN b1L IS NOT NULL THEN {done_t(strip('s2n', 'b1L'), 'tail')}
            WHEN bpL IS NOT NULL THEN (CASE
              WHEN bplar IS NOT NULL THEN {run_t(strip('s3bp', 'bplar'), 'tail')}
              ELSE {done_t('s3bp', 'tail')} END)
            ELSE {run_t('s2n', 'tail')} END)
          WHEN ndaL IS NOT NULL THEN (CASE
            WHEN cLariL IS NOT NULL THEN {done_t(strip('c2h', 'cLariL'), 'tail')}
            WHEN cSuL IS NOT NULL THEN (CASE
              WHEN cslar IS NOT NULL THEN {run_t(strip('s2cs', 'cslar'), 'tail')}
              ELSE {done_t('s2cs', 'tail')} END)
            ELSE {{'c': c2h, 't': right(cur, 2 + ndaL) || tail,
                   'fc': fbc, 'ft': fbt, 'st': 'R'}} END)
          ELSE {done_t('fbc', 'fbt')} END) AS h
        FROM (
          SELECT *,
            {lar('s3a2x')} AS a2lar,
            {lar('s3bpx')} AS bplar,
            {lar('s2csx')} AS cslar
          FROM (
          SELECT *,
            CASE WHEN a2L IS NOT NULL THEN {strip('s2d', 'a2L')} END AS s3a2x,
            CASE WHEN bpL IS NOT NULL THEN {strip('s2n', 'bpL')} END AS s3bpx,
            CASE WHEN cSuL IS NOT NULL THEN {strip('c2h', 'cSuL')} END AS s2csx
          FROM (
            SELECT *,
              {lar('s2d')} AS a1L, {poss('s2d')} AS a2L,
              {lari('s2n')} AS b1L,
              COALESCE({poss('s2n')}, {_tk_mark_sU('s2n')}) AS bpL,
              {lari('c2h')} AS cLariL, {_tk_mark_sU('c2h')} AS cSuL
            FROM (
              SELECT *,
                CASE WHEN daL IS NOT NULL THEN {strip('h1', 'daL')} END AS s2d,
                CASE WHEN nunL IS NOT NULL THEN {strip('h1', 'nunL')} END AS s2n,
                CASE WHEN ndaL IS NOT NULL THEN {strip('h1', 'ndaL')} END AS c2h
              FROM (
                SELECT *, {da('h1')} AS daL, {nun('h1')} AS nunL,
                       {nda('h1')} AS ndaL
                FROM (
                  SELECT tok, cur, tail, fbc, fbt,
                         (length(cur) >= 2 AND right(cur,2) = 'ki') AS ki,
                         CASE WHEN length(cur) >= 2 AND right(cur,2) = 'ki'
                              THEN left(cur, length(cur)-2) END AS h1
                  FROM tkC WHERE st = 'R') z0) z1) z2) z25) z26
        ) z3 WHERE TRUE) zz ),
    tkCf AS MATERIALIZED (SELECT tok, cur || tail AS v FROM tkC WHERE st = 'D')"""
    # fix: s3a2/s3bp/s2cs names
    CH = CH.replace("s3a2x", "s3a2").replace("s3bpx", "s3bp").replace("s2csx", "s2cs")

    # ---- postlude ----
    lastv = f"regexp_extract(v, '([{_TK_V}])[^{_TK_V}]*$', 1)"
    post = f"""CASE WHEN v IN ('ad','soyad') THEN v ELSE (
      CASE WHEN right(w,1)='b' THEN left(w, length(w)-1) || 'p'
           WHEN right(w,1)='c' THEN left(w, length(w)-1) || 'ç'
           WHEN right(w,1)='d' THEN left(w, length(w)-1) || 't'
           WHEN right(w,1)='ğ' THEN left(w, length(w)-1) || 'k'
           ELSE w END) END"""
    appendu = f"""CASE WHEN right(v,1) IN ('d','g') THEN (
      CASE WHEN {lastv} IN ('a','ı') THEN v || 'ı'
           WHEN {lastv} IN ('e','i') THEN v || 'i'
           WHEN {lastv} IN ('o','u') THEN v || 'u'
           WHEN {lastv} IN ('ö','ü') THEN v || 'ü'
           ELSE v END) ELSE v END"""
    FINAL = f"""tkRES AS MATERIALIZED (
      SELECT tok, s1 AS v FROM tkA WHERE skip_noun
      UNION ALL
      SELECT tok, nd.r AS v FROM tkND WHERE nd.r IS NOT NULL
      UNION ALL
      SELECT tok, v FROM tkCf),
    stemmap AS (
      SELECT tok, {post} AS stem
      FROM (SELECT tok, v, {appendu} AS w FROM tkRES) pp)"""


    return ",\n".join([PA, NSTAGES, PM, N6, ND, CH, FINAL])


_STEM_PIPELINES = {
    "english": _porter_sql_pipeline,
    "german": _german_sql_pipeline,
    "swedish": _swedish_sql_pipeline,
    "french": _french_sql_pipeline,
    "spanish": _spanish_sql_pipeline,
    "italian": _italian_sql_pipeline,
    "portuguese": _portuguese_sql_pipeline,
    "norwegian": _norwegian_sql_pipeline,
    "finnish": _finnish_sql_pipeline,
    "hungarian": _hungarian_sql_pipeline,
    "russian": _russian_sql_pipeline,
    "czech": _czech_sql_pipeline,
    "bulgarian": _bulgarian_sql_pipeline,
    "latvian": _latvian_sql_pipeline,
    "indonesian": _indonesian_sql_pipeline,
    "arabic": _arabic_sql_pipeline,
    "persian": _persian_sql_pipeline,
    "sorani": _sorani_sql_pipeline,
    "galician": _galician_sql_pipeline,
    "greek": _greek_sql_pipeline,
    "hindi": _hindi_sql_pipeline,
    "brazilian": _brazilian_sql_pipeline,
    "danish": _danish_sql_pipeline,
    "dutch": _dutch_sql_pipeline,
    "armenian": _armenian_sql_pipeline,
    "catalan": _catalan_sql_pipeline,
    "romanian": _romanian_sql_pipeline,
    "basque": _basque_sql_pipeline,
    "irish": _irish_sql_pipeline,
    "turkish": _turkish_sql_pipeline,
}


def _toks_cte(analyzer: str) -> str:
    """The `toks(docid, tokens)` CTE: plain StandardAnalyzer tokens, or the
    stemmed stream of the named analyzer slot (stems computed once per
    distinct token via the slot's independent SQL pipeline, then rejoined
    in order; docs with zero tokens keep an empty list so lens/fstats
    still count them). The stop list is the analyzer's own."""
    from .functions.analysis import split_analyzer

    plain = f"""toks AS (
  SELECT docid, {_tokens_expr('text')} AS tokens FROM docs
)"""
    if analyzer == "standard":
        return plain
    base, excl = split_analyzer(analyzer)
    if base == "standard":
        # flagged standard chain (:ascii) — folded tokens, no stem map
        return f"""toks AS (
  SELECT docid, {_tokens_expr('text', analyzer)} AS tokens FROM docs
)"""
    if base in ("whitespace", "simple", "stop", "keyword"):
        # core-tokenizer slots (tokenizer change, no stem filter):
        # duckdb_tokens_sql mirrors the CharTokenizer run extraction /
        # 255-chunk split / keyword whole-input directly
        from .functions.analysis import duckdb_tokens_sql

        return f"""toks AS (
  SELECT docid, {duckdb_tokens_sql('text', analyzer)} AS tokens FROM docs
)"""
    if base == "classic":
        # ClassicAnalyzer over the gate corpus domain: transcript text is
        # space-separated [a-z0-9]+ words (asserted by
        # tests/test_coreanalyzers.py), on which every classic compound
        # rule (APOSTROPHE/ACRONYM/COMPANY/EMAIL/HOST/NUM) is unreachable
        # — the grammar degenerates to ALPHANUM runs + the same English
        # stop set, i.e. exactly the standard-chain token stream
        return plain
    if base == "cjk":
        # width fold per token, bigram expansion, then the stop filter on
        # the EMITTED stream (CJKAnalyzer.cs filter order); no stemmap
        from .functions.analysis import stop_words

        stop_list = _sql_quoted_list(stop_words(base))
        raw = (
            f"list_filter(list_transform(regexp_extract_all(COALESCE(text,"
            f" ''), '{TOKEN_PATTERN_RE2_SQL}'), t -> lower(t)), "
            f"t -> length(t) <= {MAX_TOKEN_LENGTH})"
        )
        widened = f"list_transform({raw}, t -> {_cjk_width_sql('t')})"
        expanded = (
            f"flatten(list_transform({widened}, "
            f"tok -> {_cjk_expand_sql('tok')}))"
        )
        return f"""toks AS (
  SELECT docid,
         list_filter({expanded}, t -> t NOT IN ({stop_list})) AS tokens
  FROM docs
)"""
    pipeline = _STEM_PIPELINES[base]
    if base == "hindi":
        # heavy pre-norm chain: the Indic scan needs a recursive CTE, so
        # stop filtering moves out of the token expression and runs on the
        # exploded, normalized stream (HindiAnalyzer.cs filter order)
        from .functions.analysis import stop_words

        stop_list = _sql_quoted_list(stop_words(base))
        raw = (
            f"list_filter(list_transform(regexp_extract_all(COALESCE(text,"
            f" ''), '{TOKEN_PATTERN_RE2_SQL}'), t -> lower(t)), "
            f"t -> length(t) <= {MAX_TOKEN_LENGTH})"
        )
        return f"""toks0 AS (
  SELECT docid, {raw} AS tokens FROM docs
),
rawtoks0 AS (
  SELECT docid, unnest(tokens) AS tok, generate_subscripts(tokens, 1) AS ord
  FROM toks0
),
{_hindi_prenorm_ctes(stop_list)},
{pipeline()},
toks AS (
  SELECT d.docid, COALESCE(s.tokens, CAST([] AS VARCHAR[])) AS tokens
  FROM docs d LEFT JOIN (
    SELECT r.docid, list(m.stem ORDER BY r.ord) AS tokens
    FROM rawtoks r JOIN stemmap m ON r.tok = m.tok GROUP BY r.docid
  ) s ON d.docid = s.docid
)"""
    # stem exclusions (SetKeywordMarkerFilter): matched on the post-stop
    # token (r.tok), excluded tokens bypass the stem map — except German,
    # where normalization still applies (the filter has no keyword check)
    stem_expr = "m.stem"
    if excl:
        lst = ", ".join(f"'{w}'" for w in sorted(excl))
        kw = _german_norm_sql("r.tok") if base == "german" else "r.tok"
        stem_expr = f"CASE WHEN r.tok IN ({lst}) THEN {kw} ELSE m.stem END"
    return f"""toks0 AS (
  SELECT docid, {_tokens_expr('text', analyzer)} AS tokens FROM docs
),
rawtoks AS (
  SELECT docid, unnest(tokens) AS tok, generate_subscripts(tokens, 1) AS ord
  FROM toks0
),
{pipeline()},
toks AS (
  SELECT d.docid, COALESCE(s.tokens, CAST([] AS VARCHAR[])) AS tokens
  FROM docs d LEFT JOIN (
    SELECT r.docid, list({stem_expr} ORDER BY r.ord) AS tokens
    FROM rawtoks r JOIN stemmap m ON r.tok = m.tok GROUP BY r.docid
  ) s ON d.docid = s.docid
)"""


def prelude(analyzer: str = "standard") -> str:
    """Shared WITH-clause: docs/toks/lens/stats/postings/weights/ncache/scored.

    Arithmetic mirrors, step for step in REAL:
      avgdl  = (float)(sum_ttf / (double)max_doc)        BM25Similarity.cs:91-102
      idf    = (float)ln(1 + (maxDoc - df + .5)/(df+.5)) BM25Similarity.cs:67-70
      weight = f32(f32(idf * boost) * f32(k1+1))         BM25Similarity.cs:330-335
      ncache = f32(k1 * f32((1-b) + f32(f32(b*NT)/avgdl))) :220-233
      score  = f32(f32(weight * tf) / f32(tf + ncache))  :246-264
    """
    from .functions.analysis import split_analyzer

    # the finnish kin/ko particle loop, the hindi Indic scan, and the
    # dutch prelude i/y marking scan are recursive CTEs
    rec = ("RECURSIVE "
           if split_analyzer(analyzer)[0]
           in ("finnish", "hindi", "dutch", "romanian", "basque", "turkish")
           else "")
    return f"""WITH {rec}docs AS (
  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS docid,
         doc_id,
         'conv-' || lpad(CAST(doc_id // 4 AS VARCHAR), 8, '0') AS conv_id,
         CAST(doc_id % 4 AS INT) AS turn_idx,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
         CASE WHEN CAST(doc_id % 3 AS INT) = 2 THEN source END AS tool,
         text
  FROM documents
),
{_toks_cte(analyzer)},
lens AS (SELECT docid, len(tokens) AS fl FROM toks),
fstats AS (
  SELECT count(*) AS max_doc,
         COALESCE(sum(fl), 0) AS sum_ttf,
         CAST(CAST(COALESCE(sum(fl), 0) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS REAL) AS avgdl
  FROM lens
),
posting AS (
  SELECT docid, tok AS term, count(*) AS tf
  FROM (SELECT docid, unnest(tokens) AS tok FROM toks)
  GROUP BY docid, tok
),
tstats AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM posting GROUP BY term),
normv(lo, hi, byte, nt, dt) AS (
  VALUES
    {_norm_values_rows()}
),
ncache AS (
  SELECT l.docid,
         CAST({K1_32} * CAST({ONE_MINUS_B_32} + CAST(CAST({B_32} * v.nt AS REAL) / f.avgdl AS REAL) AS REAL) AS REAL) AS nc
  FROM lens l
  JOIN normv v ON l.fl >= v.lo AND l.fl <= v.hi
  CROSS JOIN fstats f
),
weights AS (
  SELECT t.term,
         CAST(CAST(ln(CAST(1.0 AS DOUBLE) + (CAST(f.max_doc AS DOUBLE) - CAST(t.df AS DOUBLE) + 0.5) / (CAST(t.df AS DOUBLE) + 0.5)) AS REAL) * {K1P1_32} AS REAL) AS w
  FROM tstats t CROSS JOIN fstats f
),
scored AS (
  SELECT p.docid, p.term, p.tf,
         CAST(CAST(w.w * CAST(p.tf AS REAL) AS REAL) / CAST(CAST(p.tf AS REAL) + n.nc AS REAL) AS REAL) AS s
  FROM posting p
  JOIN weights w ON p.term = w.term
  JOIN ncache n ON p.docid = n.docid
)"""


def _fold(cols: list[str]) -> str:
    """Ordered float32 fold: f32(...f32(f32(c0 + c1) + c2)...) with 0f for
    missing clauses (adding +0.0f is an exact no-op on non-negative scores)."""
    acc = f"COALESCE({cols[0]}, CAST(0.0 AS REAL))"
    for c in cols[1:]:
        acc = f"CAST({acc} + COALESCE({c}, CAST(0.0 AS REAL)) AS REAL)"
    return acc


def _pivot(terms: list[str]) -> str:
    """Per-doc clause pivot CTE body over `scored` for the given clause terms."""
    cases = ",\n       ".join(
        f"MAX(CASE WHEN term = '{t}' THEN s END) AS s{i}" for i, t in enumerate(terms)
    )
    in_list = ", ".join(f"'{t}'" for t in dict.fromkeys(terms))
    return (
        f"SELECT docid,\n       {cases}\n"
        f"  FROM scored WHERE term IN ({in_list}) GROUP BY docid"
    )


def boolean_sql(
    must: list[str] = (),
    should: list[str] = (),
    must_not: list[str] = (),
    min_should_match: int = 0,
    k: int = 10,
    offset: int = 0,
    extra_where: str | None = None,
    analyzer: str = "standard",
) -> str:
    """Top-k BooleanQuery SQL, float32-identical to the engine's scorer."""
    terms = list(must) + list(should)
    n_must = len(must)
    conds = [f"s{i} IS NOT NULL" for i in range(n_must)]
    need = (
        min_should_match
        if n_must
        else (max(1, min_should_match) if should else 0)
    )
    if need:
        n_should_expr = " + ".join(
            f"(CASE WHEN s{n_must + j} IS NOT NULL THEN 1 ELSE 0 END)"
            for j in range(len(should))
        )
        conds.append(f"({n_should_expr}) >= {need}")
    if must_not:
        nt = ", ".join(f"'{t}'" for t in must_not)
        conds.append(
            f"docid NOT IN (SELECT docid FROM scored WHERE term IN ({nt}))"
        )
    if extra_where:
        conds.append(extra_where)
    where = " AND ".join(conds) if conds else "TRUE"
    fold = _fold([f"s{i}" for i in range(len(terms))])
    off = f" OFFSET {offset}" if offset else ""
    return f"""{prelude(analyzer)},
pivoted AS (
  {_pivot(terms)}
)
SELECT docid, {fold} AS score
FROM pivoted
WHERE {where}
ORDER BY score DESC, docid ASC
LIMIT {k}{off}"""


def term_sql(term: str, k: int = 10, analyzer: str = "standard") -> str:
    return boolean_sql(should=[term], k=k, analyzer=analyzer)


def dismax_sql(terms: list[str], tie_breaker: float, k: int = 10) -> str:
    tie = _f32lit(tie_breaker)
    cols = [f"s{i}" for i in range(len(terms))]
    zero = "CAST(0.0 AS REAL)"
    mx = f"GREATEST({', '.join(f'COALESCE({c}, {zero})' for c in cols)})"
    ssum = _fold(cols)
    score = f"CAST({mx} + CAST({tie} * CAST({ssum} - {mx} AS REAL) AS REAL) AS REAL)"
    return f"""{prelude()},
pivoted AS (
  {_pivot(terms)}
)
SELECT docid, {score} AS score
FROM pivoted
ORDER BY score DESC, docid ASC
LIMIT {k}"""


def common_terms_sql(
    terms: list[str],
    max_term_frequency: float,
    low_occur: str = "MUST",
    high_occur: str = "SHOULD",
    low_msm: int = 0,
    high_msm: int = 0,
    k: int = 10,
) -> str:
    """CommonTermsQuery SQL oracle (Lucene.Net.Queries/CommonTermsQuery.cs).

    The high/low split is DATA-DRIVEN inside the SQL (a `split` CTE
    classifies each term by its df against the same threshold arithmetic as
    BuildQuery, so the oracle verifies the classification, not just the
    scores): term i is high iff df>0 AND ((mtf>=1 AND df>mtf) OR
    df > ceil(f32(mtf)*f32(maxDoc))). Scores fold per group in term order
    with f32 adds (a +0.0f for the other group's slot — an exact no-op), the
    high group's fold gated by its own occur/msm condition, then
    f32(low + high) like the engine's outer MUST(low)+SHOULD(high) pivot.
    msm values must be integral here (fractional round-half-even msm is
    covered by the pytest oracle; DuckDB ROUND is half-away)."""
    assert len(terms) >= 2, "1-term CommonTermsQuery rewrites to TermQuery"
    assert float(low_msm).is_integer() and float(high_msm).is_integer()
    mtf = max_term_frequency
    n = len(terms)
    joins = "\n  ".join(
        f"LEFT JOIN tstats td{i} ON td{i}.term = '{t}'" for i, t in enumerate(terms)
    )
    thr = (
        f"CAST(ceil(CAST({_f32lit(mtf)} * CAST(f.max_doc AS REAL) AS REAL)) AS BIGINT)"
    )
    his = []
    for i in range(n):
        df = f"COALESCE(td{i}.df, 0)"
        arms = []
        if mtf >= 1.0:
            arms.append(f"{df} > {mtf}")
        arms.append(f"{df} > {thr}")
        his.append(f"({df} > 0 AND ({' OR '.join(arms)})) AS hi{i}")
    n_low = " + ".join(f"(CASE WHEN NOT hi{i} THEN 1 ELSE 0 END)" for i in range(n))
    n_high = " + ".join(f"(CASE WHEN hi{i} THEN 1 ELSE 0 END)" for i in range(n))
    zero = "CAST(0.0 AS REAL)"

    def _cfold(high_side: bool) -> str:
        cols = [
            f"CASE WHEN {'' if high_side else 'NOT '}sp.hi{i} "
            f"THEN COALESCE(p.s{i}, {zero}) ELSE {zero} END"
            for i in range(n)
        ]
        return _fold(cols)

    matched_low = " + ".join(
        f"(CASE WHEN NOT sp.hi{i} AND p.s{i} IS NOT NULL THEN 1 ELSE 0 END)"
        for i in range(n)
    )
    matched_high = " + ".join(
        f"(CASE WHEN sp.hi{i} AND p.s{i} IS NOT NULL THEN 1 ELSE 0 END)"
        for i in range(n)
    )
    if high_occur == "MUST":
        high_gate = f"({matched_high}) = sp.n_high"
        all_high_cond = f"({matched_high}) = sp.n_high"
    else:
        high_gate = f"({matched_high}) >= {high_msm}" if high_msm else "TRUE"
        # all-high with msm=0 flips SHOULD to MUST (conjunction rewrite)
        all_high_cond = (
            f"({matched_high}) = sp.n_high"
            if high_msm == 0
            else f"({matched_high}) >= GREATEST(1, {high_msm})"
        )
    low_cond = (
        f"({matched_low}) = sp.n_low"
        if low_occur == "MUST"
        else f"({matched_low}) >= GREATEST(1, {low_msm})"
    )
    high_gated = (
        f"CASE WHEN sp.n_high > 0 AND ({high_gate}) THEN {_cfold(True)} "
        f"ELSE {zero} END"
    )
    score = (
        f"CASE WHEN sp.n_low = 0 THEN {_cfold(True)} "
        f"ELSE CAST({_cfold(False)} + {high_gated} AS REAL) END"
    )
    match = (
        f"CASE WHEN sp.n_low > 0 THEN ({low_cond}) ELSE ({all_high_cond}) END"
    )
    return f"""{prelude()},
split AS (
  SELECT {', '.join(his)},
         {n_low} AS n_low,
         {n_high} AS n_high
  FROM fstats f
  {joins}
),
pivoted AS (
  {_pivot(list(terms))}
)
SELECT p.docid AS docid, {score} AS score
FROM pivoted p CROSS JOIN split sp
WHERE {match}
ORDER BY score DESC, docid ASC
LIMIT {k}"""


def _weight_sql(term: str, boost: float) -> str:
    """Scalar subquery: float32 weight = f32(f32(idf*boost) * (k1+1))."""
    idf = (
        "CAST(ln(CAST(1.0 AS DOUBLE) + (CAST(f.max_doc AS DOUBLE) - "
        "CAST(t.df AS DOUBLE) + 0.5) / (CAST(t.df AS DOUBLE) + 0.5)) AS REAL)"
    )
    return (
        f"(SELECT CAST(CAST({idf} * {_f32lit(boost)} AS REAL) * {K1P1_32} AS REAL) "
        f"FROM tstats t CROSS JOIN fstats f WHERE t.term = '{term}')"
    )


def boosted_should_sql(clauses: list[tuple[str, float]], k: int = 10) -> str:
    """Pure-disjunction with per-clause boosts; per-clause weight formula in
    the scorer's exact float32 operation order."""
    cls = []
    for i, (term, boost) in enumerate(clauses):
        w = _weight_sql(term, boost)
        cls.append(
            f"cl{i} AS (SELECT p.docid, "
            f"CAST(CAST({w} * CAST(p.tf AS REAL) AS REAL) / "
            f"CAST(CAST(p.tf AS REAL) + n.nc AS REAL) AS REAL) AS s "
            f"FROM posting p JOIN ncache n ON p.docid = n.docid "
            f"WHERE p.term = '{term}')"
        )
    unions = " UNION ALL ".join(
        f"SELECT docid, {i} AS clause, s FROM cl{i}" for i in range(len(clauses))
    )
    pivots = ",\n       ".join(
        f"MAX(CASE WHEN clause = {i} THEN s END) AS s{i}" for i in range(len(clauses))
    )
    fold = _fold([f"s{i}" for i in range(len(clauses))])
    return f"""{prelude()},
{','.join(cls)},
u AS ({unions}),
pivoted AS (SELECT docid, {pivots} FROM u GROUP BY docid)
SELECT docid, {fold} AS score
FROM pivoted
ORDER BY score DESC, docid ASC
LIMIT {k}"""


def fuzzy_sql(term: str, max_edits: int = 1, k: int = 10) -> str:
    """FuzzyQuery constant-score rewrite: 50 best terms by (edits, term).

    damerau_levenshtein matches the engine's dl_distance (and Lucene's
    transpositions=true automata) — verified bit-identical by fuzzing."""
    lo, hi = len(term) - max_edits, len(term) + max_edits
    return f"""{prelude()}
SELECT DISTINCT docid, CAST(CAST(1.0 AS DOUBLE) AS REAL) AS score
FROM posting
WHERE term IN (
  SELECT term FROM (
    SELECT term, damerau_levenshtein(term, '{term}') AS ed
    FROM tstats WHERE length(term) BETWEEN {lo} AND {hi}
  ) WHERE ed <= {max_edits} ORDER BY ed, term LIMIT 50
)
ORDER BY score DESC, docid ASC
LIMIT {k}"""


def _idf_sql(term: str) -> str:
    """Scalar: float32 idf of a text term (0-df terms never reach this)."""
    return (
        "(SELECT CAST(ln(CAST(1.0 AS DOUBLE) + (CAST(f.max_doc AS DOUBLE) - "
        "CAST(t.df AS DOUBLE) + 0.5) / (CAST(t.df AS DOUBLE) + 0.5)) AS REAL) "
        f"FROM tstats t CROSS JOIN fstats f WHERE t.term = '{term}')"
    )


def _positions_cte() -> str:
    """pos(docid, term, pos): analyzed tokens with reference position
    semantics — every raw tokenizer match occupies a position slot, dropped
    (stop/too-long) tokens leave gaps (StandardTokenizer skippedPositions +
    StopFilter increments)."""
    stop_list = ", ".join(f"'{w}'" for w in sorted(ENGLISH_STOP_WORDS))
    return f"""rawtoks AS (
  SELECT docid,
         list_transform(regexp_extract_all(COALESCE(text, ''), '{TOKEN_PATTERN_RE2_SQL}'),
                        t -> lower(t)) AS raw
  FROM docs
),
pos AS (
  SELECT docid, tok AS term, p - 1 AS pos
  FROM (
    SELECT docid, unnest(raw) AS tok,
           unnest(generate_series(1, len(raw))) AS p
    FROM rawtoks
  )
  WHERE length(tok) <= {MAX_TOKEN_LENGTH} AND tok NOT IN ({stop_list})
)"""


def phrase_sql(
    terms: list, offsets: list[int] | None = None, k: int = 10,
    slop: int = 0, boost: float = 1.0,
) -> str:
    """Top-k Phrase/MultiPhrase SQL, float32-identical to the engine.

    Each element of `terms` is a term (one slot) or a list of alternative
    terms (a MultiPhraseQuery slot — the clause filter becomes term IN (...),
    exactly UnionDocsAndPositionsEnum's position union, and the weight folds
    idf over every (slot, term) pair in declaration order). All gate terms
    must exist in the corpus (absent-term idf would need a df=0 branch).

    Exact (slop=0) is fully general. Sloppy (slop>0) runs the ACTUAL
    SloppyPhraseScorer two-stream merge as a recursive CTE (one state row
    per doc per step, <= |A|+|B| steps): advance the min stream; on a
    strict crossing score sloppyFreq(matchLength) and swap streams; else
    matchLength = min(matchLength, end - newPos); on stream exhaustion
    score the final matchLength. freq accumulates in float32 (REAL casts
    per add) exactly like the scorer. n>2 sloppy runs the generalized
    N-stream pq emulation (_sloppy_freq_cte_n, new r5)."""
    if offsets is None:
        offsets = list(range(len(terms)))
    arrays = [[t] if isinstance(t, str) else list(t) for t in terms]
    n = len(arrays)
    # float32 fold of idfs over all (slot, term) pairs in declaration order,
    # then the term weight chain
    flat = [t for arr in arrays for t in arr]
    wsum = _idf_sql(flat[0])
    for t in flat[1:]:
        wsum = f"CAST({wsum} + {_idf_sql(t)} AS REAL)"
    w = f"CAST(CAST({wsum} * {_f32lit(boost)} AS REAL) * {K1P1_32} AS REAL)"
    freq_cte = _phrase_freq_cte(arrays, offsets, slop)
    p = prelude()
    if slop > 0:
        p = "WITH RECURSIVE " + p[len("WITH ") :]
    return f"""{p},
{_positions_cte()},
{freq_cte}
SELECT p.docid AS docid,
       CAST(CAST({w} * p.freq AS REAL) / CAST(p.freq + n.nc AS REAL) AS REAL) AS score
FROM pf p JOIN ncache n ON p.docid = n.docid
ORDER BY score DESC, p.docid ASC
LIMIT {k}"""


def _phrase_freq_cte(arrays: list, offsets: list[int], slop: int) -> str:
    """CTE chain ending in pf(docid, freq REAL): per-doc phrase frequency
    (exact alignment count, or the 2-stream SloppyPhraseScorer recursive
    merge). Shared by the BM25 and the per-similarity phrase oracles."""
    n = len(arrays)
    if slop > 0 and n > 2:
        return _sloppy_freq_cte_n(arrays, offsets, slop)
    clauses = "\nUNION ALL\n".join(
        "SELECT docid, {i} AS clause, pos - {off} AS bpos FROM pos "
        "WHERE term IN ({ts})".format(
            i=i, off=off, ts=", ".join(f"'{t}'" for t in arr)
        )
        for i, (arr, off) in enumerate(zip(arrays, offsets))
    )
    if slop == 0:
        return f"""m AS ({clauses}),
aligned AS (
  SELECT docid, bpos FROM m GROUP BY docid, bpos
  HAVING count(DISTINCT clause) = {n}
),
pf AS (SELECT docid, CAST(count(*) AS REAL) AS freq FROM aligned GROUP BY docid)"""
    if True:
        one = "CAST(CAST(1.0 AS DOUBLE) AS REAL)"
        sc = (
            f"CASE WHEN ml <= {slop} THEN CAST({one} / CAST(ml + 1 AS REAL) AS REAL) "
            "ELSE CAST(0.0 AS REAL) END"
        )
        return f"""m AS ({clauses}),
plist AS (
  SELECT docid,
         list_sort(list(bpos) FILTER (WHERE clause = 0)) AS la,
         list_sort(list(bpos) FILTER (WHERE clause = 1)) AS lb
  FROM m GROUP BY docid
  HAVING count(DISTINCT clause) = 2
),
rec AS (
  SELECT docid, la, lb,
         CAST(la[1] AS BIGINT) AS pa, CAST(lb[1] AS BIGINT) AS pb,
         2 AS ia, 2 AS ib,
         greatest(la[1], lb[1]) AS end_,
         CASE WHEN la[1] <= lb[1] THEN 1 ELSE 0 END AS is_a,
         greatest(la[1], lb[1]) - least(la[1], lb[1]) AS ml,
         CAST(0.0 AS REAL) AS freq,
         FALSE AS done
  FROM plist
  UNION ALL
  SELECT docid, la, lb,
         CASE WHEN np IS NOT NULL AND is_a = 1 THEN np ELSE pa END,
         CASE WHEN np IS NOT NULL AND is_a = 0 THEN np ELSE pb END,
         CASE WHEN np IS NOT NULL AND is_a = 1 THEN ia + 1 ELSE ia END,
         CASE WHEN np IS NOT NULL AND is_a = 0 THEN ib + 1 ELSE ib END,
         greatest(end_, COALESCE(np, end_)),
         CASE WHEN np IS NULL THEN is_a
              WHEN np > other THEN 1 - is_a ELSE is_a END,
         CASE WHEN np IS NULL THEN ml
              WHEN np > other THEN greatest(end_, np) - other
              ELSE least(ml, end_ - np) END,
         CASE WHEN np IS NULL OR np > other
              THEN CAST(freq + {sc} AS REAL) ELSE freq END,
         np IS NULL
  FROM (
    SELECT *,
           CASE WHEN is_a = 1
                THEN (CASE WHEN ia <= len(la) THEN CAST(la[ia] AS BIGINT) END)
                ELSE (CASE WHEN ib <= len(lb) THEN CAST(lb[ib] AS BIGINT) END)
           END AS np,
           CASE WHEN is_a = 1 THEN pb ELSE pa END AS other
    FROM rec WHERE NOT done
  ) s
),
pf AS (SELECT docid, freq FROM rec WHERE done AND freq > 0)"""


def _sloppy_freq_cte_n(arrays: list, offsets: list[int], slop: int) -> str:
    """N-slot SloppyPhraseScorer.PhraseFreq as a recursive CTE (the pq of
    PhrasePositions unrolled into per-clause columns; no-repeats algorithm,
    same documented divergence as the python oracle): pop the min (position,
    clause) stream, advance it; once it passes the next-lowest, score the
    best matchLength seen with sloppyFreq = f32(1/(1+ml)), f32-accumulated
    in match order (SloppyPhraseScorer.cs PhraseFreq)."""
    n = len(arrays)
    one = "CAST(CAST(1.0 AS DOUBLE) AS REAL)"
    rng = list(range(n))

    def least_of(cols):
        return cols[0] if len(cols) == 1 else f"least({', '.join(cols)})"

    def argmin(cols):
        # min by (position, clause index): <= keeps the lowest index on ties
        parts = []
        for i in rng[:-1]:
            rest = least_of(cols[i + 1 :])
            parts.append(f"WHEN {cols[i]} <= {rest} THEN {i}")
        return f"CASE {' '.join(parts)} ELSE {n - 1} END"

    def pick(ppi_col, cols):
        whens = " ".join(f"WHEN {i} THEN {cols[i]}" for i in rng)
        return f"CASE {ppi_col} {whens} END"

    def least_excl(ppi_col, cols):
        whens = " ".join(
            f"WHEN {i} THEN {least_of([c for j, c in enumerate(cols) if j != i])}"
            for i in rng
        )
        return f"CASE {ppi_col} {whens} END"

    clauses = "\nUNION ALL\n".join(
        "SELECT docid, {i} AS clause, pos - {off} AS bpos FROM pos "
        "WHERE term IN ({ts})".format(
            i=i, off=off, ts=", ".join(f"'{t}'" for t in arr)
        )
        for i, (arr, off) in enumerate(zip(arrays, offsets))
    )
    lists = ", ".join(
        f"list_sort(list(bpos) FILTER (WHERE clause = {i})) AS l{i}" for i in rng
    )
    la = [f"l{i}" for i in rng]
    cur = [f"cur{i}" for i in rng]
    ncur = [f"ncur{i}" for i in rng]
    first = ", ".join(f"CAST(l{i}[1] AS BIGINT) AS cur{i}, 2 AS idx{i}" for i in rng)
    sc = (
        f"CASE WHEN ml <= {slop} THEN CAST({one} / CAST(ml + 1 AS REAL) AS REAL) "
        "ELSE CAST(0.0 AS REAL) END"
    )
    np_case = " ".join(
        f"WHEN {i} THEN (CASE WHEN idx{i} <= len(l{i}) "
        f"THEN CAST(l{i}[idx{i}] AS BIGINT) END)"
        for i in rng
    )
    upd = ", ".join(
        f"CASE WHEN ppi = {i} AND np IS NOT NULL THEN np ELSE cur{i} END AS ncur{i}, "
        f"CASE WHEN ppi = {i} AND np IS NOT NULL THEN idx{i} + 1 ELSE idx{i} END AS nidx{i}"
        for i in rng
    )
    carry = ", ".join(
        [f"l{i}" for i in rng]
        + [f"ncur{i} AS cur{i}" for i in rng]
        + [f"nidx{i} AS idx{i}" for i in rng]
    )
    return f"""m AS ({clauses}),
plist AS (
  SELECT docid, {lists}
  FROM m GROUP BY docid
  HAVING count(DISTINCT clause) = {n}
),
rec AS (
  SELECT docid, {', '.join(la)}, {', '.join(cur)},
         {', '.join(f'idx{i}' for i in rng)},
         end_, ppi,
         {least_excl('ppi', cur)} AS next_,
         end_ - {pick('ppi', cur)} AS ml,
         CAST(0.0 AS REAL) AS freq,
         FALSE AS done
  FROM (
    SELECT *, greatest({', '.join(cur)}) AS end_, {argmin(cur)} AS ppi
    FROM (SELECT docid, {', '.join(la)}, {first} FROM plist) a
  ) b
  UNION ALL
  SELECT docid, {carry},
         nend AS end_,
         CASE WHEN np IS NULL THEN ppi WHEN push THEN nppi ELSE ppi END AS ppi,
         CASE WHEN np IS NOT NULL AND push THEN {least_excl('nppi', ncur)}
              ELSE next_ END AS next_,
         CASE WHEN np IS NULL THEN ml
              WHEN push THEN nend - {pick('nppi', ncur)}
              ELSE least(ml, nend - np) END AS ml,
         CASE WHEN np IS NULL OR push THEN CAST(freq + {sc} AS REAL)
              ELSE freq END AS freq,
         np IS NULL AS done
  FROM (
    SELECT *, {argmin(ncur)} AS nppi,
           (np IS NOT NULL AND np > next_) AS push
    FROM (
      SELECT *, {upd},
             CASE WHEN np IS NULL THEN end_ ELSE greatest(end_, np) END AS nend
      FROM (
        SELECT *, CASE ppi {np_case} END AS np
        FROM rec WHERE NOT done
      ) s1
    ) s2
  ) s3
),
pf AS (SELECT docid, freq FROM rec WHERE done AND freq > 0)"""


def phrase_sim_sql(
    terms: list, similarity: str, k: int = 10, slop: int = 0,
    boost: float = 1.0, mu: float = 2000.0,
) -> str:
    """Phrase under classic TF-IDF or LM-Dirichlet, float32-exact.

    classic (TFIDFSimilarity.IdfExplain + TFIDFSimScorer.Score): one value
    from the f32 fold of per-term classic idfs; score =
    f32(f32(f32(sqrt(freq)) * value) * byte315Decode(norm)) — no coord.
    lmd (SimilarityBase multi-stats -> MultiSimScorer): per-term Dirichlet
    kernels evaluated at the SHARED phrase freq, clamped at 0, summed in
    f32 declaration order. Gate terms must exist in the corpus."""
    arrays = [[t] if isinstance(t, str) else list(t) for t in terms]
    offsets = list(range(len(arrays)))
    freq_cte = _phrase_freq_cte(arrays, offsets, slop)
    p = prelude()
    if slop > 0:
        p = "WITH RECURSIVE " + p[len("WITH ") :]
    flat = [t for arr in arrays for t in arr]
    if similarity == "classic":

        def cidf(t):
            return (
                "(SELECT CAST(ln(CAST(f.max_doc AS DOUBLE) / "
                "(CAST(t.df AS DOUBLE) + 1.0)) + CAST(1.0 AS DOUBLE) AS REAL) "
                f"FROM tstats t CROSS JOIN fstats f WHERE t.term = '{t}')"
            )

        ssum = cidf(flat[0])
        for t in flat[1:]:
            ssum = f"CAST({ssum} + {cidf(t)} AS REAL)"
        qw = f"CAST({ssum} * {_f32lit(boost)} AS REAL)"
        ssq = f"CAST({qw} * {qw} AS REAL)"
        qnorm = f"CAST(CAST(1.0 AS DOUBLE) / sqrt(CAST({ssq} AS DOUBLE)) AS REAL)"
        value = f"CAST(CAST({qw} * {qnorm} AS REAL) * {ssum} AS REAL)"
        return f"""{p},
{_positions_cte()},
{freq_cte},
cval AS (SELECT {value} AS v),
dnorm AS (
  SELECT l.docid, v.dt FROM lens l JOIN normv v ON l.fl >= v.lo AND l.fl <= v.hi
)
SELECT p.docid AS docid,
       CAST(CAST(CAST(sqrt(CAST(p.freq AS DOUBLE)) AS REAL) * c.v AS REAL)
            * d.dt AS REAL) AS score
FROM pf p CROSS JOIN cval c JOIN dnorm d ON p.docid = d.docid
ORDER BY score DESC, p.docid ASC
LIMIT {k}"""
    if similarity != "lmd":
        raise NotImplementedError(
            "phrase_sim_sql covers classic and lmd (others are pytest-only)"
        )
    mu32 = _f32lit(mu)
    b32 = _f32lit(boost)
    zero = "CAST(CAST(0.0 AS DOUBLE) AS REAL)"
    inner2 = f"CAST({mu32} / CAST(d.nt + {mu32} AS REAL) AS REAL)"
    pieces = []
    for t in flat:
        cp = (
            "(SELECT CAST(CAST(CAST(t.ttf AS REAL) + CAST(1.0 AS REAL) AS REAL) / "
            "CAST(CAST(f.sum_ttf AS REAL) + CAST(1.0 AS REAL) AS REAL) AS REAL) "
            f"FROM tstats t CROSS JOIN fstats f WHERE t.term = '{t}')"
        )
        mucp = f"CAST({mu32} * {cp} AS REAL)"
        inner1 = (
            f"CAST(CAST(1.0 AS REAL) + CAST(p.freq / {mucp} AS REAL) AS REAL)"
        )
        raws = (
            f"CAST({b32} * CAST(ln(CAST({inner1} AS DOUBLE)) "
            f"+ ln(CAST({inner2} AS DOUBLE)) AS REAL) AS REAL)"
        )
        pieces.append(f"GREATEST({raws}, {zero})")
    total = pieces[0]
    for piece in pieces[1:]:
        total = f"CAST({total} + {piece} AS REAL)"
    return f"""{p},
{_positions_cte()},
{freq_cte},
dnorm AS (
  SELECT l.docid, v.nt FROM lens l JOIN normv v ON l.fl >= v.lo AND l.fl <= v.hi
)
SELECT p.docid AS docid, {total} AS score
FROM pf p JOIN dnorm d ON p.docid = d.docid
ORDER BY score DESC, p.docid ASC
LIMIT {k}"""


def sweetspot_sql(
    terms: list[str],
    k: int = 10,
    tf_base: float = 1.5,
    tf_min: float = 2.0,
    norm_spec: str = SWEET_NORM_SPEC,
) -> str:
    """Term / exact-phrase query under SweetSpotSimilarity, float32-exact.

    DefaultSimilarity's value chain (idf / queryNorm / IDFStats.Normalize —
    for one clause the coord multiply is an exact *1.0) with two swaps
    (SweetSpotSimilarity.cs): tf = BaselineTf (CASE over the f32 operand,
    sqrt in double) and the norm byte = the plateau ComputeLengthNorm — the
    index-time quantization embedded as (lo, hi, decoded) VALUES runs from
    the very encoder the sweet index used (functions/sweetspot.py)."""
    from .functions.sweetspot import sweet_norm_runs

    runs = sweet_norm_runs(norm_spec)
    rows = ",\n    ".join(
        f"({lo}, {hi}, {_f32lit(d)})" for lo, hi, d in runs
    )
    bb = np.float32(np.float32(tf_base) * np.float32(tf_base))
    base32 = _f32lit(tf_base)
    mn32 = _f32lit(tf_min)
    op = (
        f"CAST(CAST(CAST(p.freq AS REAL) + {_f32lit(float(bb))} AS REAL)"
        f" - {mn32} AS REAL)"
    )
    tfv = (
        f"CASE WHEN CAST(p.freq AS REAL) <= {mn32} THEN {base32}"
        f" ELSE CAST(sqrt(CAST({op} AS DOUBLE)) AS REAL) END"
    )

    def cidf(t):
        return (
            "(SELECT CAST(ln(CAST(f.max_doc AS DOUBLE) / "
            "(CAST(t.df AS DOUBLE) + 1.0)) + CAST(1.0 AS DOUBLE) AS REAL) "
            f"FROM tstats t CROSS JOIN fstats f WHERE t.term = '{t}')"
        )

    ssum = cidf(terms[0])
    for t in terms[1:]:
        ssum = f"CAST({ssum} + {cidf(t)} AS REAL)"
    qw = ssum  # boost = 1
    ssq = f"CAST({qw} * {qw} AS REAL)"
    qnorm = f"CAST(CAST(1.0 AS DOUBLE) / sqrt(CAST({ssq} AS DOUBLE)) AS REAL)"
    value = f"CAST(CAST({qw} * {qnorm} AS REAL) * {ssum} AS REAL)"
    if len(terms) == 1:
        p = prelude()
        freq_part = (
            f"pf AS (SELECT docid, tf AS freq FROM posting"
            f" WHERE term = '{terms[0]}')"
        )
    else:
        arrays = [[t] for t in terms]
        p = prelude() + ",\n" + _positions_cte()
        freq_part = _phrase_freq_cte(arrays, list(range(len(arrays))), 0)
    return f"""{p},
{freq_part},
swnorm(lo, hi, dt) AS (
  VALUES
    {rows}
),
cval AS (SELECT {value} AS v)
SELECT p.docid AS docid,
       CAST(CAST({tfv} * c.v AS REAL) * d.dt AS REAL) AS score
FROM pf p
CROSS JOIN cval c
JOIN lens l ON p.docid = l.docid
JOIN swnorm d ON l.fl >= d.lo AND l.fl <= d.hi
WHERE p.freq > 0
ORDER BY score DESC, p.docid ASC
LIMIT {k}"""


def _span_score_select(terms: list[str], freq_cte: str, k: int, boost: float = 1.0) -> str:
    """Shared tail: span weight (f32 sum of leaf idfs through the term
    chain) + score = w*freq/(freq + ncache) over a `pf(docid, freq)` CTE."""
    wsum = _idf_sql(terms[0])
    for t in terms[1:]:
        wsum = f"CAST({wsum} + {_idf_sql(t)} AS REAL)"
    w = f"CAST(CAST({wsum} * {_f32lit(boost)} AS REAL) * {K1P1_32} AS REAL)"
    return f"""{prelude()},
{_positions_cte()},
{freq_cte}
SELECT p.docid AS docid,
       CAST(CAST({w} * p.freq AS REAL) / CAST(p.freq + n.nc AS REAL) AS REAL) AS score
FROM pf p JOIN ncache n ON p.docid = n.docid
WHERE p.freq > 0
ORDER BY score DESC, p.docid ASC
LIMIT {k}"""


def span_first_sql(term: str, end: int, k: int = 10) -> str:
    """SpanFirst(SpanTerm(term), end): spans (p, p+1) with p+1 <= end; each
    contributes sloppyFreq(1) = 0.5f, so the f32 fold = 0.5 * count exactly
    (halves are exact in float32)."""
    freq_cte = f"""pf AS (
  SELECT docid,
         CAST(CAST(count(*) AS REAL) * {_f32lit(0.5)} AS REAL) AS freq
  FROM pos WHERE term = '{term}' AND pos + 1 <= {end}
  GROUP BY docid
)"""
    return _span_score_select([term], freq_cte, k)


def span_near_ordered_sql(t1: str, t2: str, slop: int, k: int = 10) -> str:
    """2-clause ordered SpanNear closed form (the minimal-match rule): for
    each t2 position q, the match partner is the LATEST t1 position p < q;
    matchSlop = max(0, q - p - 1); emitted span = (p, q+1) with
    sloppyFreq(q+1-p); f32 fold in span order via list_reduce."""
    one = "CAST(CAST(1.0 AS DOUBLE) AS REAL)"
    freq_cte = f"""bp AS (SELECT docid, pos AS q FROM pos WHERE term = '{t2}'),
ap AS (SELECT docid, pos AS p FROM pos WHERE term = '{t1}'),
mt AS (
  SELECT bp.docid, bp.q, max(ap.p) AS p
  FROM bp JOIN ap ON bp.docid = ap.docid AND ap.p < bp.q
  GROUP BY bp.docid, bp.q
),
qual AS (
  SELECT docid, p, q,
         CAST({one} / CAST(q + 1 - p + 1 AS REAL) AS REAL) AS sf
  FROM mt WHERE greatest(q - p - 1, 0) <= {slop}
),
pf AS (
  SELECT docid,
         list_reduce(list(sf ORDER BY p, q), (x, y) -> CAST(x + y AS REAL)) AS freq
  FROM qual GROUP BY docid
)"""
    return _span_score_select([t1, t2], freq_cte, k)


def _prefix_idf_fold_sql(prefix: str) -> str:
    """Scalar: f32 fold of idfs over ALL terms matching the prefix, in term
    order — the ScoringRewrite enumeration order SpanMultiTermQueryWrapper
    sums weights in."""
    idf = (
        "CAST(ln(CAST(1.0 AS DOUBLE) + (CAST(f.max_doc AS DOUBLE) - "
        "CAST(t.df AS DOUBLE) + 0.5) / (CAST(t.df AS DOUBLE) + 0.5)) AS REAL)"
    )
    return (
        f"(SELECT list_reduce(list({idf} ORDER BY t.term), "
        f"(x, y) -> CAST(x + y AS REAL)) "
        f"FROM tstats t CROSS JOIN fstats f WHERE t.term LIKE '{prefix}%')"
    )


def span_first_prefix_sql(prefix: str, end: int, k: int = 10) -> str:
    """SpanFirst(SpanMultiTermQueryWrapper(Prefix(prefix)), end): the
    wrapper rewrites to SpanOr over every prefix-matching term, so spans are
    the (p, p+1) positions of ANY matching term with p+1 <= end, each
    contributing sloppyFreq(1) = 0.5f; the weight sums matched-term idfs in
    term order."""
    wsum = _prefix_idf_fold_sql(prefix)
    w = f"CAST(CAST({wsum} * {_f32lit(1.0)} AS REAL) * {K1P1_32} AS REAL)"
    return f"""{prelude()},
{_positions_cte()},
pf AS (
  SELECT docid,
         CAST(CAST(count(*) AS REAL) * {_f32lit(0.5)} AS REAL) AS freq
  FROM pos WHERE term LIKE '{prefix}%' AND pos + 1 <= {end}
  GROUP BY docid
)
SELECT p.docid AS docid,
       CAST(CAST({w} * p.freq AS REAL) / CAST(p.freq + n.nc AS REAL) AS REAL) AS score
FROM pf p JOIN ncache n ON p.docid = n.docid
WHERE p.freq > 0
ORDER BY score DESC, p.docid ASC
LIMIT {k}"""


def span_near_prefix_sql(prefix: str, t2: str, slop: int, k: int = 10) -> str:
    """2-clause ordered SpanNear whose FIRST clause is a prefix wrapper:
    the t1 position pool is the union of every prefix-matching term's
    positions (SpanOr), then the same minimal-match closed form as
    span_near_ordered_sql. Weight = f32(fold(prefix idfs, term order) +
    idf(t2)) — leaf order is clause order, the wrapper's leaves sorted."""
    one = "CAST(CAST(1.0 AS DOUBLE) AS REAL)"
    wsum = f"CAST({_prefix_idf_fold_sql(prefix)} + {_idf_sql(t2)} AS REAL)"
    w = f"CAST(CAST({wsum} * {_f32lit(1.0)} AS REAL) * {K1P1_32} AS REAL)"
    return f"""{prelude()},
{_positions_cte()},
bp AS (SELECT docid, pos AS q FROM pos WHERE term = '{t2}'),
ap AS (SELECT docid, pos AS p FROM pos WHERE term LIKE '{prefix}%'),
mt AS (
  SELECT bp.docid, bp.q, max(ap.p) AS p
  FROM bp JOIN ap ON bp.docid = ap.docid AND ap.p < bp.q
  GROUP BY bp.docid, bp.q
),
qual AS (
  SELECT docid, p, q,
         CAST({one} / CAST(q + 1 - p + 1 AS REAL) AS REAL) AS sf
  FROM mt WHERE greatest(q - p - 1, 0) <= {slop}
),
pf AS (
  SELECT docid,
         list_reduce(list(sf ORDER BY p, q), (x, y) -> CAST(x + y AS REAL)) AS freq
  FROM qual GROUP BY docid
)
SELECT p.docid AS docid,
       CAST(CAST({w} * p.freq AS REAL) / CAST(p.freq + n.nc AS REAL) AS REAL) AS score
FROM pf p JOIN ncache n ON p.docid = n.docid
WHERE p.freq > 0
ORDER BY score DESC, p.docid ASC
LIMIT {k}"""


def payload_near_sql(
    t1: str, t2: str, slop: int, function: str = "avg", k: int = 10,
    boost: float = 1.0,
) -> str:
    """2-clause ordered PayloadNearQuery SQL, float32-identical to the
    engine (Search/Payloads/PayloadNearQuery.cs).

    Matches are the span_near_ordered closed form (for each t2 position q,
    partner p = latest t1 position < q, gap <= slop). Per match the two
    payloads process LAST clause first (NearSpansOrdered.cs:357-434 unions
    the last clause's payload before the backward shrink loop), so the avg
    fold order is [f32(q+1), f32(p+1)] per match, matches in span order —
    emitted here as (q, idx) ordered rows folded with REAL adds. DocScore =
    psum / seen (avg) | min | max; no payloads -> 1. Final score =
    f32(spanScore * DocScore)."""
    one = "CAST(CAST(1.0 AS DOUBLE) AS REAL)"
    wsum = _idf_sql(t1)
    wsum = f"CAST({wsum} + {_idf_sql(t2)} AS REAL)"
    w = f"CAST(CAST({wsum} * {_f32lit(boost)} AS REAL) * {K1P1_32} AS REAL)"
    if function == "avg":
        factor = "CAST(psum / CAST(seen AS REAL) AS REAL)"
    elif function == "min":
        factor = "pmin"
    elif function == "max":
        factor = "pmax"
    else:
        raise ValueError(f"unknown payload function {function!r}")
    return f"""{prelude()},
{_positions_cte()},
bp AS (SELECT docid, pos AS q FROM pos WHERE term = '{t2}'),
ap AS (SELECT docid, pos AS p FROM pos WHERE term = '{t1}'),
mt AS (
  SELECT bp.docid, bp.q, max(ap.p) AS p
  FROM bp JOIN ap ON bp.docid = ap.docid AND ap.p < bp.q
  GROUP BY bp.docid, bp.q
),
qual AS (
  SELECT docid, p, q,
         CAST({one} / CAST(q + 1 - p + 1 AS REAL) AS REAL) AS sf
  FROM mt WHERE greatest(q - p - 1, 0) <= {slop}
),
pay AS (
  SELECT docid, q, 0 AS idx, CAST(CAST(q AS REAL) + {one} AS REAL) AS pv FROM qual
  UNION ALL
  SELECT docid, q, 1 AS idx, CAST(CAST(p AS REAL) + {one} AS REAL) AS pv FROM qual
),
pagg AS (
  SELECT docid,
         list_reduce(list(pv ORDER BY q, idx), (x, y) -> CAST(x + y AS REAL)) AS psum,
         count(*) AS seen, min(pv) AS pmin, max(pv) AS pmax
  FROM pay GROUP BY docid
),
pf AS (
  SELECT docid,
         list_reduce(list(sf ORDER BY p, q), (x, y) -> CAST(x + y AS REAL)) AS freq
  FROM qual GROUP BY docid
)
SELECT p.docid AS docid,
       CAST(CAST(CAST({w} * p.freq AS REAL) / CAST(p.freq + n.nc AS REAL) AS REAL)
            * {factor} AS REAL) AS score
FROM pf p
JOIN pagg g ON p.docid = g.docid
JOIN ncache n ON p.docid = n.docid
ORDER BY score DESC, p.docid ASC
LIMIT {k}"""


def payload_near_sim_sql(
    t1: str, t2: str, slop: int, function: str, similarity: str,
    k: int = 15, boost: float = 1.0, mu: float = 2000.0,
) -> str:
    """2-clause ordered PayloadNearQuery under classic TF-IDF or
    LM-Dirichlet, float32-exact (new r5: payload queries score under every
    similarity — Search/Payloads/PayloadNearQuery.cs GetScore routes the
    span kernel through the active SimScorer; ComputeSlopFactor is
    1/(distance+1) in every family so the sloppyFreq/payload folds are
    identical to payload_near_sql).

    freq = the sloppy fold; factor = the payload DocScore fold; kernel:
      classic — f32(f32(f32(sqrt(freq)) * value) * byte315Decode(norm)),
                value from the 2-term idf fold (phrase_sim_sql semantics);
      lmd     — per-term Dirichlet kernels at the SHARED freq, clamped at
                0, summed in clause order (SimilarityBase multi-stats).
    Final score = f32(kernel * factor)."""
    one = "CAST(CAST(1.0 AS DOUBLE) AS REAL)"
    if function == "avg":
        factor = "CAST(g.psum / CAST(g.seen AS REAL) AS REAL)"
    elif function == "min":
        factor = "g.pmin"
    elif function == "max":
        factor = "g.pmax"
    else:
        raise ValueError(f"unknown payload function {function!r}")
    near_ctes = f"""bp AS (SELECT docid, pos AS q FROM pos WHERE term = '{t2}'),
ap AS (SELECT docid, pos AS p FROM pos WHERE term = '{t1}'),
mt AS (
  SELECT bp.docid, bp.q, max(ap.p) AS p
  FROM bp JOIN ap ON bp.docid = ap.docid AND ap.p < bp.q
  GROUP BY bp.docid, bp.q
),
qual AS (
  SELECT docid, p, q,
         CAST({one} / CAST(q + 1 - p + 1 AS REAL) AS REAL) AS sf
  FROM mt WHERE greatest(q - p - 1, 0) <= {slop}
),
pay AS (
  SELECT docid, q, 0 AS idx, CAST(CAST(q AS REAL) + {one} AS REAL) AS pv FROM qual
  UNION ALL
  SELECT docid, q, 1 AS idx, CAST(CAST(p AS REAL) + {one} AS REAL) AS pv FROM qual
),
pagg AS (
  SELECT docid,
         list_reduce(list(pv ORDER BY q, idx), (x, y) -> CAST(x + y AS REAL)) AS psum,
         count(*) AS seen, min(pv) AS pmin, max(pv) AS pmax
  FROM pay GROUP BY docid
),
pf AS (
  SELECT docid,
         list_reduce(list(sf ORDER BY p, q), (x, y) -> CAST(x + y AS REAL)) AS freq
  FROM qual GROUP BY docid
)"""
    if similarity == "classic":

        def cidf(t):
            return (
                "(SELECT CAST(ln(CAST(f.max_doc AS DOUBLE) / "
                "(CAST(t.df AS DOUBLE) + 1.0)) + CAST(1.0 AS DOUBLE) AS REAL) "
                f"FROM tstats t CROSS JOIN fstats f WHERE t.term = '{t}')"
            )

        ssum = f"CAST({cidf(t1)} + {cidf(t2)} AS REAL)"
        qw = f"CAST({ssum} * {_f32lit(boost)} AS REAL)"
        ssq = f"CAST({qw} * {qw} AS REAL)"
        qnorm = f"CAST(CAST(1.0 AS DOUBLE) / sqrt(CAST({ssq} AS DOUBLE)) AS REAL)"
        value = f"CAST(CAST({qw} * {qnorm} AS REAL) * {ssum} AS REAL)"
        return f"""{prelude()},
{_positions_cte()},
{near_ctes},
cval AS (SELECT {value} AS v),
dnorm AS (
  SELECT l.docid, v.dt FROM lens l JOIN normv v ON l.fl >= v.lo AND l.fl <= v.hi
)
SELECT p.docid AS docid,
       CAST(CAST(CAST(CAST(sqrt(CAST(p.freq AS DOUBLE)) AS REAL) * c.v AS REAL)
            * d.dt AS REAL) * {factor} AS REAL) AS score
FROM pf p CROSS JOIN cval c
JOIN pagg g ON p.docid = g.docid
JOIN dnorm d ON p.docid = d.docid
WHERE p.freq > 0
ORDER BY score DESC, p.docid ASC
LIMIT {k}"""
    if similarity != "lmd":
        raise NotImplementedError(
            "payload_near_sim_sql covers classic and lmd (others pytest-only)"
        )
    mu32 = _f32lit(mu)
    b32 = _f32lit(boost)
    zero = "CAST(CAST(0.0 AS DOUBLE) AS REAL)"
    inner2 = f"CAST({mu32} / CAST(d.nt + {mu32} AS REAL) AS REAL)"
    pieces = []
    for t in (t1, t2):
        cp = (
            "(SELECT CAST(CAST(CAST(t.ttf AS REAL) + CAST(1.0 AS REAL) AS REAL) / "
            "CAST(CAST(f.sum_ttf AS REAL) + CAST(1.0 AS REAL) AS REAL) AS REAL) "
            f"FROM tstats t CROSS JOIN fstats f WHERE t.term = '{t}')"
        )
        mucp = f"CAST({mu32} * {cp} AS REAL)"
        inner1 = (
            f"CAST(CAST(1.0 AS REAL) + CAST(p.freq / {mucp} AS REAL) AS REAL)"
        )
        raws = (
            f"CAST({b32} * CAST(ln(CAST({inner1} AS DOUBLE)) "
            f"+ ln(CAST({inner2} AS DOUBLE)) AS REAL) AS REAL)"
        )
        pieces.append(f"GREATEST({raws}, {zero})")
    total = f"CAST({pieces[0]} + {pieces[1]} AS REAL)"
    return f"""{prelude()},
{_positions_cte()},
{near_ctes},
dnorm AS (
  SELECT l.docid, v.nt FROM lens l JOIN normv v ON l.fl >= v.lo AND l.fl <= v.hi
)
SELECT p.docid AS docid, CAST({total} * {factor} AS REAL) AS score
FROM pf p
JOIN pagg g ON p.docid = g.docid
JOIN dnorm d ON p.docid = d.docid
WHERE p.freq > 0
ORDER BY score DESC, p.docid ASC
LIMIT {k}"""


def payload_term_sql(
    term: str, function: str = "avg", include_span_score: bool = True,
    k: int = 10, boost: float = 1.0,
) -> str:
    """PayloadTermQuery SQL, float32-identical to the engine.

    The gate index is built with payload_provider='position_float', so the
    per-occurrence payload factor is f32(f32(pos) + 1f) — recomputed here
    relationally from the positions CTE. Span freq = f32(0.5 * tf) (every
    term span contributes sloppyFreq(1) = 0.5f; halves are exact in f32);
    avg folds the factors left-to-right in REAL in position order exactly
    like PayloadTermSpanScorer.ProcessPayload, then one f32 division by the
    count; min/max are order-independent. Final score = f32(spanScore *
    DocScore) or DocScore alone (PayloadTermQuery.cs GetScore)."""
    w = (
        f"CAST(CAST({_idf_sql(term)} * {_f32lit(boost)} AS REAL) "
        f"* {K1P1_32} AS REAL)"
    )
    if function == "avg":
        factor = "CAST(psum / CAST(tf AS REAL) AS REAL)"
    elif function == "min":
        factor = "pmin"
    elif function == "max":
        factor = "pmax"
    else:
        raise ValueError(f"unknown payload function {function!r}")
    one = "CAST(CAST(1.0 AS DOUBLE) AS REAL)"
    pay_cte = f"""pocc AS (
  SELECT docid, pos,
         CAST(CAST(pos AS REAL) + {one} AS REAL) AS pf
  FROM pos WHERE term = '{term}'
),
pagg AS (
  SELECT docid, count(*) AS tf,
         list_reduce(list(pf ORDER BY pos), (x, y) -> CAST(x + y AS REAL)) AS psum,
         min(pf) AS pmin, max(pf) AS pmax
  FROM pocc GROUP BY docid
),
pfac AS (
  SELECT docid,
         CAST(CAST(tf AS REAL) * {_f32lit(0.5)} AS REAL) AS freq,
         {factor} AS factor
  FROM pagg
)"""
    if include_span_score:
        score = (
            f"CAST(CAST(CAST({w} * p.freq AS REAL) / "
            "CAST(p.freq + n.nc AS REAL) AS REAL) * p.factor AS REAL)"
        )
        tail = (
            f"SELECT p.docid AS docid, {score} AS score\n"
            "FROM pfac p JOIN ncache n ON p.docid = n.docid"
        )
    else:
        tail = "SELECT p.docid AS docid, p.factor AS score\nFROM pfac p"
    return f"""{prelude()},
{_positions_cte()},
{pay_cte}
{tail}
ORDER BY score DESC, p.docid ASC
LIMIT {k}"""


def payload_term_sim_sql(
    term: str, similarity: str, function: str = "avg", k: int = 15,
    boost: float = 1.0, mu: float = 2000.0,
) -> str:
    """PayloadTermQuery under classic TF-IDF or LM-Dirichlet, float32-exact.

    The reference routes the span score through the ACTIVE SimScorer
    (Search/Payloads/PayloadTermQuery.cs GetScore; ComputeSlopFactor is
    1/(distance+1) in every similarity family) — the payload factor fold
    is unchanged from payload_term_sql; only the kernel at
    freq = f32(0.5*tf) swaps:
      classic — f32(f32(f32(sqrt(freq)) * value) * byte315Decode(norm))
                (TFIDFSimScorer), value from the standalone-query norm;
      lmd     — max(0, f32(boost * f32(ln(1 + freq/(mu*cp)) +
                ln(mu/(dl+mu))))) (LMDirichletSimilarity).
    Final score = f32(kernel * factor)."""
    if function == "avg":
        factor = "CAST(psum / CAST(tf AS REAL) AS REAL)"
    elif function == "min":
        factor = "pmin"
    elif function == "max":
        factor = "pmax"
    else:
        raise ValueError(f"unknown payload function {function!r}")
    one = "CAST(CAST(1.0 AS DOUBLE) AS REAL)"
    pay_cte = f"""pocc AS (
  SELECT docid, pos,
         CAST(CAST(pos AS REAL) + {one} AS REAL) AS pf
  FROM pos WHERE term = '{term}'
),
pagg AS (
  SELECT docid, count(*) AS tf,
         list_reduce(list(pf ORDER BY pos), (x, y) -> CAST(x + y AS REAL)) AS psum,
         min(pf) AS pmin, max(pf) AS pmax
  FROM pocc GROUP BY docid
),
pfac AS (
  SELECT docid,
         CAST(CAST(tf AS REAL) * {_f32lit(0.5)} AS REAL) AS freq,
         {factor} AS factor
  FROM pagg
)"""
    if similarity == "classic":
        cidf = (
            "(SELECT CAST(ln(CAST(f.max_doc AS DOUBLE) / "
            "(CAST(t.df AS DOUBLE) + 1.0)) + CAST(1.0 AS DOUBLE) AS REAL) "
            f"FROM tstats t CROSS JOIN fstats f WHERE t.term = '{term}')"
        )
        qw = f"CAST({cidf} * {_f32lit(boost)} AS REAL)"
        ssq = f"CAST({qw} * {qw} AS REAL)"
        qnorm = (
            f"CAST(CAST(1.0 AS DOUBLE) / sqrt(CAST({ssq} AS DOUBLE)) AS REAL)"
        )
        value = f"CAST(CAST({qw} * {qnorm} AS REAL) * {cidf} AS REAL)"
        return f"""{prelude()},
{_positions_cte()},
{pay_cte},
cval AS (SELECT {value} AS v),
dnorm AS (
  SELECT l.docid, v.dt FROM lens l JOIN normv v ON l.fl >= v.lo AND l.fl <= v.hi
)
SELECT p.docid AS docid,
       CAST(CAST(CAST(CAST(sqrt(CAST(p.freq AS DOUBLE)) AS REAL) * c.v AS REAL)
            * d.dt AS REAL) * p.factor AS REAL) AS score
FROM pfac p CROSS JOIN cval c JOIN dnorm d ON p.docid = d.docid
ORDER BY score DESC, p.docid ASC
LIMIT {k}"""
    if similarity != "lmd":
        raise NotImplementedError(
            "payload_term_sim_sql covers classic and lmd (others pytest-only)"
        )
    mu32 = _f32lit(mu)
    b32 = _f32lit(boost)
    zero = "CAST(CAST(0.0 AS DOUBLE) AS REAL)"
    cp = (
        "(SELECT CAST(CAST(CAST(t.ttf AS REAL) + CAST(1.0 AS REAL) AS REAL) / "
        "CAST(CAST(f.sum_ttf AS REAL) + CAST(1.0 AS REAL) AS REAL) AS REAL) "
        f"FROM tstats t CROSS JOIN fstats f WHERE t.term = '{term}')"
    )
    mucp = f"CAST({mu32} * {cp} AS REAL)"
    inner1 = f"CAST(CAST(1.0 AS REAL) + CAST(p.freq / {mucp} AS REAL) AS REAL)"
    inner2 = f"CAST({mu32} / CAST(d.nt + {mu32} AS REAL) AS REAL)"
    raws = (
        f"CAST({b32} * CAST(ln(CAST({inner1} AS DOUBLE)) "
        f"+ ln(CAST({inner2} AS DOUBLE)) AS REAL) AS REAL)"
    )
    return f"""{prelude()},
{_positions_cte()},
{pay_cte},
dnorm AS (
  SELECT l.docid, v.nt FROM lens l JOIN normv v ON l.fl >= v.lo AND l.fl <= v.hi
)
SELECT p.docid AS docid,
       CAST(GREATEST({raws}, {zero}) * p.factor AS REAL) AS score
FROM pfac p JOIN dnorm d ON p.docid = d.docid
ORDER BY score DESC, p.docid ASC
LIMIT {k}"""


def _kw_score_sql(
    field: str, value: str, boost: float = 1.0, cond: str | None = None
) -> str:
    """Scalar: float32 score of a keyword (omitNorms) field term — constant
    across matching docs: f32(f32(idf*boost)*(k1+1)) * 1 / (1 + k1).
    `cond` overrides the docs-view membership predicate (multi-valued
    keyword fields: value ∈ array ⇔ a disjunction over source columns)."""
    cond = cond or f"{field} = '{value}'"
    idf = (
        "(SELECT CAST(ln(CAST(1.0 AS DOUBLE) + (CAST(f.max_doc AS DOUBLE) - "
        f"CAST(d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5)) AS REAL) "
        f"FROM (SELECT count(*) AS df FROM docs WHERE {cond}) d "
        "CROSS JOIN fstats f)"
    )
    w = f"CAST(CAST({idf} * {_f32lit(boost)} AS REAL) * {K1P1_32} AS REAL)"
    one = "CAST(CAST(1.0 AS DOUBLE) AS REAL)"
    return (
        f"CAST(CAST({w} * {one} AS REAL) / "
        f"CAST({one} + {K1_32} AS REAL) AS REAL)"
    )


def join_terms_sql(
    from_term: str, from_field: str, to_field: str,
    score_mode: str = "none", k: int = 10, boost: float = 1.0,
) -> str:
    """JoinUtil.CreateJoinQuery oracle: from-hits' from_field terms ->
    to-docs matched on to_field, scores per JoinUtil ScoreMode (none =
    constant boost; total = f32 fold in from-docid order; max; avg =
    f32(total / f32(count)))."""
    base = f"""{prelude()},
fromv AS (
  SELECT d.docid, d.{from_field} AS jterm, CAST(s.s AS REAL) AS score
  FROM scored s JOIN docs d ON s.docid = d.docid
  WHERE s.term = '{from_term}' AND d.{from_field} IS NOT NULL
)"""
    if score_mode == "none":
        return f"""{base}
SELECT d.docid AS docid, {_f32lit(boost)} AS score
FROM docs d
WHERE d.{to_field} IN (SELECT DISTINCT jterm FROM fromv)
ORDER BY score DESC, docid ASC
LIMIT {k}"""
    if score_mode == "max":
        per = "SELECT jterm, max(score) AS jscore FROM fromv GROUP BY jterm"
    else:
        tot = (
            "list_reduce(list(score ORDER BY docid), "
            "(x, y) -> CAST(x + y AS REAL))"
        )
        if score_mode == "total":
            per = f"SELECT jterm, {tot} AS jscore FROM fromv GROUP BY jterm"
        elif score_mode == "avg":
            per = (
                f"SELECT jterm, CAST(CAST({tot} AS REAL) / "
                f"CAST(count(*) AS REAL) AS REAL) AS jscore "
                f"FROM fromv GROUP BY jterm"
            )
        else:
            raise ValueError(f"unknown score_mode {score_mode!r}")
    return f"""{base},
per_term AS ({per})
SELECT d.docid AS docid, p.jscore AS score
FROM docs d JOIN per_term p ON d.{to_field} = p.jterm
ORDER BY score DESC, docid ASC
LIMIT {k}"""


def join_terms_multi_sql(from_term: str, k: int = 15) -> str:
    """Multi-valued JoinUtil oracle (SortedSet path): tags = [role]
    (+ tool when present) on both sides; mode=max; a to-doc's score is the
    max over its matched tags' per-term max from-hit scores."""
    return f"""{prelude()},
tagged AS (
  SELECT docid,
         list_distinct(CASE WHEN tool IS NOT NULL THEN [role, tool]
                            ELSE [role] END) AS tags
  FROM docs
),
fromv AS (
  SELECT t.docid, unnest(t.tags) AS jterm, CAST(s.s AS REAL) AS score
  FROM scored s JOIN tagged t ON s.docid = t.docid
  WHERE s.term = '{from_term}'
),
per_term AS (SELECT jterm, max(score) AS jscore FROM fromv GROUP BY jterm),
to_side AS (SELECT docid, unnest(tags) AS jterm FROM tagged)
SELECT ts.docid AS docid, CAST(max(p.jscore) AS REAL) AS score
FROM to_side ts JOIN per_term p ON ts.jterm = p.jterm
GROUP BY ts.docid
ORDER BY score DESC, docid ASC
LIMIT {k}"""


def function_score_sql(k: int = 20) -> str:
    """FunctionQuery oracle: score = f32(f32(turn_idx+1) / f32(fl+1))
    over every doc (qWeight = 1 for boost 1)."""
    val = (
        "CAST(CAST(d.turn_idx + 1 AS REAL) / CAST(l.fl + 1 AS REAL) AS REAL)"
    )
    return f"""{prelude()}
SELECT d.docid AS docid, {val} AS score
FROM docs d JOIN lens l ON d.docid = l.docid
ORDER BY score DESC, docid ASC
LIMIT {k}"""


def custom_score_sql(term: str, k: int = 15) -> str:
    """CustomScoreQuery oracle: f32(subScore * f32(turn_idx+1))."""
    return f"""{prelude()}
SELECT s.docid AS docid,
       CAST(s.s * CAST(d.turn_idx + 1 AS REAL) AS REAL) AS score
FROM scored s JOIN docs d ON s.docid = d.docid
WHERE s.term = '{term}'
ORDER BY score DESC, docid ASC
LIMIT {k}"""


def boosting_sql(match: str, context: str, demote: float, k: int = 15) -> str:
    """BoostingQuery oracle: match score, multiplied by demote (f32) when
    the context term also matches."""
    d32 = _f32lit(demote)
    return f"""{prelude()}
SELECT m.docid AS docid,
       CASE WHEN c.docid IS NOT NULL
            THEN CAST(m.s * {d32} AS REAL) ELSE m.s END AS score
FROM (SELECT docid, s FROM scored WHERE term = '{match}') m
LEFT JOIN (SELECT docid FROM scored WHERE term = '{context}') c
  ON m.docid = c.docid
ORDER BY score DESC, docid ASC
LIMIT {k}"""


def classify_nb_sql(text: str) -> str:
    """SimpleNaiveBayesClassifier oracle, fully relational: tokens of the
    literal input (duplicates kept), per-class prior + add-1-smoothed log
    likelihood with den = avgUniqueTermsPerDoc*docFreq(c) + docsWithClass;
    winner = max score with earliest class on ties; score = 10/|max|."""
    esc = text.replace("'", "''")
    toks = _tokens_expr(f"'{esc}'")
    return f"""{prelude()},
itoks AS (SELECT unnest({toks}) AS w),
cls AS (SELECT role AS c, count(*) AS dfc FROM docs GROUP BY role),
consts AS (
  SELECT (SELECT CAST(sum(df) AS DOUBLE) FROM tstats)
           / (SELECT CAST(count(*) AS DOUBLE) FROM lens WHERE fl > 0) AS avgu,
         (SELECT count(*) FROM docs WHERE role IS NOT NULL) AS dwc
),
wdoc AS (
  SELECT p.term, d.role AS c, count(DISTINCT p.docid) AS hits
  FROM posting p JOIN docs d ON p.docid = d.docid
  GROUP BY 1, 2
),
scores AS (
  SELECT c.c,
         ln(CAST(c.dfc AS DOUBLE)) - ln(CAST(k.dwc AS DOUBLE))
         + sum(ln((COALESCE(w.hits, 0) + 1)
                  / (k.avgu * c.dfc + k.dwc))) AS score
  FROM itoks t CROSS JOIN cls c CROSS JOIN consts k
  LEFT JOIN wdoc w ON w.term = t.w AND w.c = c.c
  GROUP BY c.c, c.dfc, k.dwc, k.avgu
)
SELECT c AS cls, 10.0 / abs(score) AS score FROM scores
ORDER BY score DESC, c ASC LIMIT 1"""


def classify_knn_sql(
    text: str, k: int = 10,
    min_term_freq: int = 2, min_doc_freq: int = 5, max_query_terms: int = 25,
) -> str:
    """KNearestNeighborClassifier oracle: MLT term selection from the
    literal text (same float64 tf*idf 9-dp ranking as the MLT oracle),
    BM25 SHOULD fold, top-k, majority class (count desc, class asc),
    score = count/k."""
    esc = text.replace("'", "''")
    toks = _tokens_expr(f"'{esc}'")
    return f"""{prelude()},
itf AS (
  SELECT w, count(*) AS tf FROM (SELECT unnest({toks}) AS w) GROUP BY w
),
mlt AS (
  SELECT t.term,
         row_number() OVER (
           ORDER BY round(i.tf * (ln(CAST(f.max_doc AS DOUBLE) / (t.df + 1.0)) + 1.0), 9) DESC,
                    t.term ASC
         ) AS rk
  FROM itf i JOIN tstats t ON t.term = i.w CROSS JOIN fstats f
  WHERE i.tf >= {min_term_freq} AND t.df >= {min_doc_freq}
),
sel AS (SELECT term, rk FROM mlt WHERE rk <= {max_query_terms}),
persc AS (
  SELECT s.docid, s.s, m.rk FROM scored s JOIN sel m ON s.term = m.term
),
folded AS (
  SELECT docid,
         list_reduce(list(CAST(s AS REAL) ORDER BY rk), (x, y) -> CAST(x + y AS REAL)) AS score
  FROM persc GROUP BY docid
),
topk AS (
  SELECT f.docid, d.role AS cls FROM folded f
  JOIN docs d ON f.docid = d.docid
  WHERE d.role IS NOT NULL
  ORDER BY f.score DESC, f.docid ASC LIMIT {k}
)
SELECT cls, CAST(count(*) AS DOUBLE) / {k} AS score FROM topk
GROUP BY cls ORDER BY score DESC, cls ASC LIMIT 1"""


# -- spatial oracles (Lucene.Net.Spatial) -------------------------------------
# The oracle re-derives the MATCH SEMANTICS analytically from the raw
# lon/lat values: a doc matches an Intersects grid filter iff its
# detail-level grid cell relates non-disjoint to the query shape (the match
# set IntersectsPrefixTreeFilter.Visit/VisitScanned collects — engine-side
# the same set is reached through cover-token postings, so the two paths
# share no code: the engine walks terms, the oracle computes cell bounds
# from scratch with the arithmetic cell-identity form).


def geo_prelude() -> str:
    return f"""WITH docs AS (
  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS docid,
         {LON_EXPR} AS lon,
         {LAT_EXPR} AS lat
  FROM documents
)"""


CONST_SCORE = "CAST(CAST(1.0 AS DOUBLE) AS REAL)"


def _cell_bounds_sql(level: int, tree: str = "geohash") -> tuple[str, ...]:
    """(minx, maxx, miny, maxy) SQL over docs.lon/docs.lat: the doc's
    level-`level` grid cell, arithmetic cell-identity form (ties to the
    lower lon cell; quad lat ties to the upper cell — functions/geo.py)."""
    if tree == "quad":
        n = 1 << level
        nx = ny = n
        iy = (
            f"LEAST(GREATEST(FLOOR((lat + 90.0) / 180.0 * {float(ny)!r}),"
            f" 0), {ny - 1})"
        )
    else:
        from .functions.geo import _gh_bits

        xb, yb = _gh_bits(level)
        nx, ny = 1 << xb, 1 << yb
        iy = (
            f"LEAST(GREATEST(CEIL((lat + 90.0) / 180.0 * {float(ny)!r}) - 1,"
            f" 0), {ny - 1})"
        )
    ix = (
        f"LEAST(GREATEST(CEIL((lon + 180.0) / 360.0 * {float(nx)!r}) - 1,"
        f" 0), {nx - 1})"
    )
    w, h = 360.0 / nx, 180.0 / ny
    minx = f"(-180.0 + ({ix}) * {w!r})"
    maxx = f"(-180.0 + (({ix}) + 1) * {w!r})"
    miny = f"(-90.0 + ({iy}) * {h!r})"
    maxy = f"(-90.0 + (({iy}) + 1) * {h!r})"
    return minx, maxx, miny, maxy


def spatial_rect_sql(
    min_x: float, max_x: float, min_y: float, max_y: float,
    level: int, k: int, disjoint: bool = False, tree: str = "geohash",
) -> str:
    """Intersects(rect) over a prefix-tree point index: doc matches iff its
    detail-level cell rect is NON-disjoint with the query rect (touching
    edges intersect — spatial4j relate_range). disjoint=True inverts
    (DisjointSpatialFilter). Constant score 1.0f, docid order."""
    minx, maxx, miny, maxy = _cell_bounds_sql(level, tree)
    cond = (
        f"NOT ({maxx} < {min_x!r} OR {minx} > {max_x!r}"
        f" OR {maxy} < {min_y!r} OR {miny} > {max_y!r})"
    )
    if disjoint:
        cond = f"NOT ({cond})"
    return f"""{geo_prelude()}
SELECT docid, {CONST_SCORE} AS score
FROM docs WHERE {cond}
ORDER BY docid ASC LIMIT {k}"""


def spatial_circle_sql(cx: float, cy: float, radius: float, k: int) -> str:
    """PointVectorStrategy circle: ValueSourceFilter 0 <= haversine-degrees
    <= radius, inclusive double bounds (Util/ValueSourceFilter.cs:75)."""
    from .operators.spatial import distance_sql
    from .plans.query import SpatialDistanceSpec

    d = distance_sql(SpatialDistanceSpec(from_x=cx, from_y=cy))
    return f"""{geo_prelude()}
SELECT docid, {CONST_SCORE} AS score
FROM docs WHERE {d} >= 0.0 AND {d} <= {radius!r}
ORDER BY docid ASC LIMIT {k}"""


def spatial_distance_sort_sql(
    cx: float, cy: float, k: int, grid_level: int = 0
) -> str:
    """Top-k nearest by the f32 distance value source (SingleVal), docid
    tiebreak; grid_level > 0 quantizes doc points to their indexed cell
    center (ShapeFieldCacheDistanceValueSource)."""
    from .operators.spatial import distance_sql
    from .plans.query import SpatialDistanceSpec

    d = distance_sql(
        SpatialDistanceSpec(from_x=cx, from_y=cy, grid_level=grid_level)
    )
    return f"""{geo_prelude()}
SELECT docid, CAST({d} AS REAL) AS score
FROM docs
ORDER BY score ASC, docid ASC LIMIT {k}"""


def spatial_recip_sql(query_shape, k: int) -> str:
    """MakeRecipDistanceValueSource through FunctionQuery: score =
    f32(c / (1*f32(dist) + c)), c = 0.1 * bbox diagonal — every doc
    matches (FunctionQuery), score desc."""
    from .operators.spatial import PointVectorStrategy, recip_distance_vs

    vs, _spec = recip_distance_vs(PointVectorStrategy(), query_shape)
    return f"""{geo_prelude()}
SELECT docid, {vs.duck} AS score
FROM docs
ORDER BY score DESC, docid ASC LIMIT {k}"""


def phonetic_prelude(encoder: str, inject: bool = True) -> str:
    """Shared WITH-clause for a PHONETIC-ANALYZED index (round 5z2):
    PhoneticFilter appended to the standard chain at INDEX time. The
    emitted stream `em` doubles matched tokens in inject mode (the code
    is the anchor, the original a posInc-0 overlap), so:
      lens   (norm fieldLength) = the ORIGINAL token count — overlaps are
             discounted (FieldInvertState.NumOverlap, BM25Similarity.cs:
             156-160 discountOverlaps=true)
      fstats sumTotalTermFreq / avgdl count EVERY emitted token
             (CollectionStatistics over real postings)
      posting/tstats/weights score over the emitted stream.
    The rest of the arithmetic is prelude()'s, step for step in REAL."""
    from .functions import phonetic as ph

    cte = {
        "soundex": ph.soundex_cte,
        "refined_soundex": ph.refined_soundex_cte,
        "caverphone2": ph.caverphone2_cte,
        "nysiis": ph.nysiis_cte,
        "metaphone": ph.metaphone_cte,
        "cologne": ph.cologne_cte,
        "match_rating": ph.match_rating_cte,
        "caverphone1": ph.caverphone1_cte,
    }[encoder]("vocab")
    if inject:
        em = """em AS (
  SELECT t.docid, e.ph AS term FROM tt t JOIN encv e ON t.tok = e.tok
  WHERE e.ph IS NOT NULL AND e.ph <> '' AND e.ph <> t.tok
  UNION ALL
  SELECT t.docid, t.tok AS term FROM tt t
)"""
    else:
        em = """em AS (
  SELECT t.docid,
         CASE WHEN e.ph IS NOT NULL AND e.ph <> '' AND e.ph <> t.tok
              THEN e.ph ELSE t.tok END AS term
  FROM tt t JOIN encv e ON t.tok = e.tok
)"""
    rec = "RECURSIVE " if encoder in ("nysiis", "metaphone", "cologne") else ""
    return f"""WITH {rec}docs AS (
  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS docid,
         doc_id,
         'conv-' || lpad(CAST(doc_id // 4 AS VARCHAR), 8, '0') AS conv_id,
         CAST(doc_id % 4 AS INT) AS turn_idx,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
         CASE WHEN CAST(doc_id % 3 AS INT) = 2 THEN source END AS tool,
         text
  FROM documents
),
{_toks_cte("standard")},
tt AS (SELECT docid, unnest(tokens) AS tok FROM toks),
vocab AS (SELECT DISTINCT tok FROM tt),
{cte},
{em},
lens AS (SELECT docid, len(tokens) AS fl FROM toks),
fstats AS (
  SELECT (SELECT count(*) FROM lens) AS max_doc,
         count(*) AS sum_ttf,
         CAST(CAST(count(*) AS DOUBLE) / CAST((SELECT count(*) FROM lens) AS DOUBLE) AS REAL) AS avgdl
  FROM em
),
posting AS (
  SELECT docid, term, count(*) AS tf FROM em GROUP BY docid, term
),
tstats AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM posting GROUP BY term),
normv(lo, hi, byte, nt, dt) AS (
  VALUES
    {_norm_values_rows()}
),
ncache AS (
  SELECT l.docid,
         CAST({K1_32} * CAST({ONE_MINUS_B_32} + CAST(CAST({B_32} * v.nt AS REAL) / f.avgdl AS REAL) AS REAL) AS REAL) AS nc
  FROM lens l
  JOIN normv v ON l.fl >= v.lo AND l.fl <= v.hi
  CROSS JOIN fstats f
),
weights AS (
  SELECT t.term,
         CAST(CAST(ln(CAST(1.0 AS DOUBLE) + (CAST(f.max_doc AS DOUBLE) - CAST(t.df AS DOUBLE) + 0.5) / (CAST(t.df AS DOUBLE) + 0.5)) AS REAL) * {K1P1_32} AS REAL) AS w
  FROM tstats t CROSS JOIN fstats f
),
scored AS (
  SELECT p.docid, p.term, p.tf,
         CAST(CAST(w.w * CAST(p.tf AS REAL) AS REAL) / CAST(CAST(p.tf AS REAL) + n.nc AS REAL) AS REAL) AS s
  FROM posting p
  JOIN weights w ON p.term = w.term
  JOIN ncache n ON p.docid = n.docid
)"""


def phonetic_term_sql(
    encoder: str, term: str, k: int = 15, inject: bool = True
) -> str:
    """Top-k BM25 TermQuery over the phonetic-analyzed index."""
    return f"""{phonetic_prelude(encoder, inject)}
SELECT docid, s AS score FROM scored
WHERE term = '{term}'
ORDER BY score DESC, docid ASC
LIMIT {k}"""


def quality_trec_sql(terms: list[str], k: int = 20) -> str:
    """QualityStats oracle (Lucene.Net.Benchmark/Quality): per query qN =
    single-term BM25 top-k, judged against 'term occurs AND turn_idx < 2'.
    Re-derives numPoints/numGood/maxGood/recall/avp/mrr/p@5,10,20 with
    window functions — QualityStats.AddResult's running precision, the
    1/rank-only-when-<=5 MRR, and GetPrecisionAt's
    (numPoints*pAt[numPoints])/n tail extension in that exact double
    operation order."""
    ranked = "\nUNION ALL\n".join(
        f"""  SELECT * FROM (
    SELECT 'q{i+1}' AS query_id, docid,
           row_number() OVER (ORDER BY s{i} DESC, docid ASC) AS rank
    FROM pivoted WHERE s{i} IS NOT NULL
  ) WHERE rank <= {k}"""
        for i in range(len(terms))
    )
    rel = "\nUNION ALL\n".join(
        f"""  SELECT 'q{i+1}' AS query_id, p.docid
  FROM posting p JOIN docs d ON p.docid = d.docid
  WHERE p.term = '{t}' AND d.turn_idx < 2"""
        for i, t in enumerate(terms)
    )

    def p_at(n: int) -> str:
        at = f"max(CASE WHEN rank = {n} THEN CAST(cg AS DOUBLE) / {float(n)!r} END)"
        tail = (
            f"(CAST(max(rank) AS DOUBLE) * (CAST(sum(g) AS DOUBLE)"
            f" / CAST(max(rank) AS DOUBLE))) / {float(n)!r}"
        )
        return f"COALESCE({at}, {tail}) AS p_at_{n}"

    return f"""{prelude()},
pivoted AS (
  {_pivot(terms)}
),
ranked AS (
{ranked}
),
rel AS (
{rel}
),
marked AS (
  SELECT r.query_id, r.rank,
         CASE WHEN rel.docid IS NOT NULL THEN 1 ELSE 0 END AS g
  FROM ranked r
  LEFT JOIN rel ON r.query_id = rel.query_id AND r.docid = rel.docid
),
c AS (
  SELECT query_id, rank, g,
         sum(g) OVER (PARTITION BY query_id ORDER BY rank) AS cg
  FROM marked
),
mg AS (SELECT query_id, count(*) AS max_good FROM rel GROUP BY query_id)
SELECT c.query_id,
       max(rank) AS num_points,
       sum(g) AS num_good,
       any_value(mg.max_good) AS max_good,
       CAST(sum(g) AS DOUBLE) / CAST(any_value(mg.max_good) AS DOUBLE) AS recall,
       COALESCE(sum(CASE WHEN g = 1 THEN CAST(cg AS DOUBLE) / CAST(rank AS DOUBLE) END), 0.0)
         / CAST(any_value(mg.max_good) AS DOUBLE) AS avp,
       COALESCE(CASE WHEN min(CASE WHEN g = 1 THEN rank END) <= 5
                THEN 1.0 / CAST(min(CASE WHEN g = 1 THEN rank END) AS DOUBLE) END,
                0.0) AS mrr,
       {p_at(5)},
       {p_at(10)},
       {p_at(20)}
FROM c JOIN mg ON c.query_id = mg.query_id
GROUP BY c.query_id
ORDER BY c.query_id ASC"""


def kw_term_sql(field: str, value: str, k: int = 10, cond: str | None = None) -> str:
    """Top-k keyword-field TermQuery SQL (field: role/tool on the docs view).
    `cond` overrides the membership predicate for multi-valued fields whose
    array the docs view derives from scalar columns."""
    cond = cond or f"{field} = '{value}'"
    return f"""{prelude()}
SELECT docid, {_kw_score_sql(field, value, cond=cond)} AS score
FROM docs WHERE {cond}
ORDER BY score DESC, docid ASC
LIMIT {k}"""


def precedence_sql(a: str, b: str, c: str, k: int = 15) -> str:
    """OR(AND(a, b), c) — the PrecedenceQueryParser keeps the grammar's
    nesting (Flexible/Precedence/Processors/BooleanModifiersQueryNodeProcessor
    .cs), so the AND group folds first (f32 clause order, docs matching both
    required terms only), then the outer SHOULD fold adds the lone term."""
    inner = _fold(["s0", "s1"])
    g1 = f"CASE WHEN s0 IS NOT NULL AND s1 IS NOT NULL THEN {inner} END"
    return f"""{prelude()},
pivoted AS (
  {_pivot([a, b, c])}
),
grouped AS (
  SELECT docid, {g1} AS g1, s2 FROM pivoted
)
SELECT docid, {_fold(["g1", "s2"])} AS score
FROM grouped
WHERE g1 IS NOT NULL OR s2 IS NOT NULL
ORDER BY score DESC, docid ASC
LIMIT {k}"""


def multi_field_sql(t1: str, t2: str, field: str, k: int = 15) -> str:
    """standard_parse('t1 t2', fields=('text', field)) oracle: each
    unfielded term expands to a grouped OR(text:t, field:t)
    (MultiFieldQueryNodeProcessor.cs:95-104 GroupQueryNode(OrQueryNode));
    the two groups combine SHOULD at the top. The keyword side scores the
    omitNorms constant; per-group f32 fold, then the outer f32 fold."""
    kw1 = _kw_score_sql(field, t1)
    kw2 = _kw_score_sql(field, t2)
    return f"""{prelude()},
textp AS (
  {_pivot([t1, t2])}
),
pivoted AS (
  SELECT d.docid,
         t.s0 AS s0,
         CASE WHEN d.{field} = '{t1}' THEN {kw1} END AS s1,
         t.s1 AS s2,
         CASE WHEN d.{field} = '{t2}' THEN {kw2} END AS s3
  FROM docs d LEFT JOIN textp t ON d.docid = t.docid
),
grouped AS (
  SELECT docid,
         CASE WHEN s0 IS NOT NULL OR s1 IS NOT NULL
              THEN {_fold(["s0", "s1"])} END AS g1,
         CASE WHEN s2 IS NOT NULL OR s3 IS NOT NULL
              THEN {_fold(["s2", "s3"])} END AS g2
  FROM pivoted
)
SELECT docid, {_fold(["g1", "g2"])} AS score
FROM grouped
WHERE g1 IS NOT NULL OR g2 IS NOT NULL
ORDER BY score DESC, docid ASC
LIMIT {k}"""


def cross_field_sql(text_must: str, field: str, value: str, k: int = 10) -> str:
    """MUST text term + SHOULD keyword term, f32 clause-order fold."""
    kw = _kw_score_sql(field, value)
    return f"""{prelude()},
pivoted AS (
  SELECT s.docid, s.s AS s0,
         CASE WHEN d.{field} = '{value}' THEN {kw} END AS s1
  FROM scored s JOIN docs d ON s.docid = d.docid
  WHERE s.term = '{text_must}'
)
SELECT docid, {_fold(["s0", "s1"])} AS score
FROM pivoted
ORDER BY score DESC, docid ASC
LIMIT {k}"""


def explain_term_sql(term: str, k: int = 10) -> str:
    """IndexSearcher.Explain leaves for a BM25 TermQuery: freq, df, idf,
    the norm denominator, and the recomposed score (== scored.s, the exact
    engine arithmetic)."""
    idf = (
        "CAST(ln(CAST(1.0 AS DOUBLE) + (CAST(f.max_doc AS DOUBLE)"
        " - CAST(t.df AS DOUBLE) + 0.5) / (CAST(t.df AS DOUBLE) + 0.5))"
        " AS REAL)"
    )
    return f"""{prelude()}
SELECT p.docid,
       CAST(p.tf AS BIGINT) AS freq,
       CAST(t.df AS BIGINT) AS df,
       {idf} AS idf,
       n.nc AS norm_k,
       s.s AS score
FROM posting p
JOIN tstats t ON p.term = t.term
CROSS JOIN fstats f
JOIN ncache n ON p.docid = n.docid
JOIN scored s ON s.docid = p.docid AND s.term = p.term
WHERE p.term = '{term}'
ORDER BY score DESC, p.docid ASC
LIMIT {k}"""


def explain_classic_sql(term: str, k: int = 10, boost: float = 1.0) -> str:
    """IndexSearcher.Explain leaves for a classic (TF-IDF) TermQuery:
    freq, df, idf, queryNorm, byte315-decoded fieldNorm, score — the same
    float32 chain as classic_term_sql with the intermediates exposed."""
    idf = (
        "CAST(ln(CAST(f.max_doc AS DOUBLE) / (CAST(t.df AS DOUBLE) + 1.0))"
        " + CAST(1.0 AS DOUBLE) AS REAL)"
    )
    qw = f"CAST({idf} * {_f32lit(boost)} AS REAL)"
    ssq = f"CAST({qw} * {qw} AS REAL)"
    qnorm = f"CAST(CAST(1.0 AS DOUBLE) / sqrt(CAST({ssq} AS DOUBLE)) AS REAL)"
    value = f"CAST(CAST({qw} * {qnorm} AS REAL) * {idf} AS REAL)"
    return f"""{prelude()},
cval AS (
  SELECT {idf} AS idf, {qnorm} AS qnorm, {value} AS v
  FROM tstats t CROSS JOIN fstats f WHERE t.term = '{term}'
),
dnorm AS (
  SELECT l.docid, v.dt FROM lens l JOIN normv v ON l.fl >= v.lo AND l.fl <= v.hi
)
SELECT p.docid,
       CAST(p.tf AS BIGINT) AS freq,
       CAST(t.df AS BIGINT) AS df,
       c.idf AS idf,
       c.qnorm AS query_norm,
       d.dt AS field_norm,
       CAST(CAST(CAST(sqrt(CAST(p.tf AS DOUBLE)) AS REAL) * c.v AS REAL)
            * d.dt AS REAL) AS score
FROM posting p
JOIN tstats t ON p.term = t.term
CROSS JOIN cval c
JOIN dnorm d ON p.docid = d.docid
WHERE p.term = '{term}'
ORDER BY score DESC, p.docid ASC
LIMIT {k}"""


def classic_term_sql(term: str, k: int = 10, boost: float = 1.0) -> str:
    """Top-k TermQuery under DefaultSimilarity (TF-IDF), float32-exact:
      idf   = (float)(ln(maxDoc/(df+1)) + 1)      DefaultSimilarity.cs:158-161
      qw    = f32(idf * boost); qnorm = (float)(1/sqrt(f32(qw*qw)))  :78-81
      value = f32(f32(qw*qnorm) * idf)            IDFStats.Normalize
      score = f32(f32(f32(sqrt(tf)) * value) * byte315Decode(norm))
                                                  TFIDFSimScorer.Score:687-692
    """
    idf = (
        "CAST(ln(CAST(f.max_doc AS DOUBLE) / (CAST(t.df AS DOUBLE) + 1.0))"
        " + CAST(1.0 AS DOUBLE) AS REAL)"
    )
    qw = f"CAST({idf} * {_f32lit(boost)} AS REAL)"
    ssq = f"CAST({qw} * {qw} AS REAL)"
    qnorm = f"CAST(CAST(1.0 AS DOUBLE) / sqrt(CAST({ssq} AS DOUBLE)) AS REAL)"
    value = f"CAST(CAST({qw} * {qnorm} AS REAL) * {idf} AS REAL)"
    return f"""{prelude()},
cval AS (
  SELECT {value} AS v FROM tstats t CROSS JOIN fstats f WHERE t.term = '{term}'
),
dnorm AS (
  SELECT l.docid, v.dt FROM lens l JOIN normv v ON l.fl >= v.lo AND l.fl <= v.hi
)
SELECT p.docid AS docid,
       CAST(CAST(CAST(sqrt(CAST(p.tf AS DOUBLE)) AS REAL) * c.v AS REAL)
            * d.dt AS REAL) AS score
FROM posting p
CROSS JOIN cval c
JOIN dnorm d ON p.docid = d.docid
WHERE p.term = '{term}'
ORDER BY score DESC, p.docid ASC
LIMIT {k}"""


def lmd_term_sql(term: str, k: int = 10, mu: float = 2000.0, boost: float = 1.0) -> str:
    """Top-k TermQuery under LM-Dirichlet, float32-exact
    (LMDirichletSimilarity.cs:74-78; docLen = normv.nt, the same
    1/(byte315Decode)^2 table SimilarityBase uses)."""
    mu32 = _f32lit(mu)
    cp = (
        f"CAST(CAST(CAST(t.ttf AS REAL) + CAST(1.0 AS REAL) AS REAL) / "
        f"CAST(CAST(f.sum_ttf AS REAL) + CAST(1.0 AS REAL) AS REAL) AS REAL)"
    )
    mucp = f"CAST({mu32} * {cp} AS REAL)"
    inner1 = (
        f"CAST(CAST(1.0 AS REAL) + CAST(CAST(p.tf AS REAL) / c.mucp AS REAL) AS REAL)"
    )
    inner2 = f"CAST({mu32} / CAST(v.nt + {mu32} AS REAL) AS REAL)"
    raws = (
        f"CAST({_f32lit(boost)} * CAST(ln(CAST({inner1} AS DOUBLE)) "
        f"+ ln(CAST({inner2} AS DOUBLE)) AS REAL) AS REAL)"
    )
    return f"""{prelude()},
cpv AS (
  SELECT {mucp} AS mucp FROM tstats t CROSS JOIN fstats f WHERE t.term = '{term}'
),
dlv AS (
  SELECT l.docid, v.nt FROM lens l JOIN normv v ON l.fl >= v.lo AND l.fl <= v.hi
)
SELECT p.docid AS docid,
       GREATEST({raws.replace('v.nt', 'd.nt')}, CAST(CAST(0.0 AS DOUBLE) AS REAL)) AS score
FROM posting p
CROSS JOIN cpv c
JOIN dlv d ON p.docid = d.docid
WHERE p.term = '{term}'
ORDER BY score DESC, p.docid ASC
LIMIT {k}"""


def lmjm_term_sql(term: str, k: int = 10, lam: float = 0.1, boost: float = 1.0) -> str:
    """Top-k TermQuery under LM Jelinek-Mercer, float32-exact
    (LMJelinekMercerSimilarity.cs:57-60)."""
    lam32 = _f32lit(lam)
    oml32 = _f32lit(float(np.float32(np.float32(1.0) - np.float32(lam))))
    cp = (
        f"CAST(CAST(CAST(t.ttf AS REAL) + CAST(1.0 AS REAL) AS REAL) / "
        f"CAST(CAST(f.sum_ttf AS REAL) + CAST(1.0 AS REAL) AS REAL) AS REAL)"
    )
    lcp = f"CAST({lam32} * {cp} AS REAL)"
    inner = (
        f"CAST(CAST(1.0 AS REAL) + CAST(CAST(CAST({oml32} * CAST(p.tf AS REAL) AS REAL)"
        f" / d.nt AS REAL) / c.lcp AS REAL) AS REAL)"
    )
    return f"""{prelude()},
cpv AS (
  SELECT {lcp} AS lcp FROM tstats t CROSS JOIN fstats f WHERE t.term = '{term}'
),
dlv AS (
  SELECT l.docid, v.nt FROM lens l JOIN normv v ON l.fl >= v.lo AND l.fl <= v.hi
)
SELECT p.docid AS docid,
       CAST({_f32lit(boost)} * CAST(ln(CAST({inner} AS DOUBLE)) AS REAL) AS REAL) AS score
FROM posting p
CROSS JOIN cpv c
JOIN dlv d ON p.docid = d.docid
WHERE p.term = '{term}'
ORDER BY score DESC, p.docid ASC
LIMIT {k}"""


def dfr_gb2_term_sql(term: str, k: int = 10, boost: float = 1.0) -> str:
    """Top-k TermQuery under DFR GB2, float32-exact (see the engine's
    operators/simbase.py citations). log2 mirrored as ln(x)/ln(2)."""
    # double-precision per-term constants computed in SQL (exact doubles)
    consts = """
  SELECT CAST(t.ttf + 1 AS DOUBLE) AS fv,
         CAST(t.df + 1 AS DOUBLE) AS np1,
         CAST(f.max_doc AS DOUBLE) AS nn,
         CAST(CAST(f.sum_ttf AS REAL) / CAST(f.max_doc AS REAL) AS REAL) AS avg32
  FROM tstats t CROSS JOIN fstats f WHERE t.term = '{T}'""".replace("{T}", term)
    inner = (
        "CAST(CAST(1.0 AS REAL) + CAST(CAST(CAST(1.0 AS REAL) * c.avg32 AS REAL)"
        " / d.nt AS REAL) AS REAL)"
    )
    log2i = f"(ln(CAST({inner} AS DOUBLE)) / ln(2.0))"
    tfn = f"CAST(CAST(CAST(p.tf AS REAL) AS DOUBLE) * {log2i} AS REAL)"
    lam = "(c.fv / (c.nn + c.fv))"
    bm = (
        f"CAST(ln({lam} + 1.0) / ln(2.0)"
        f" + CAST({tfn} AS DOUBLE) * (ln((1.0 + {lam}) / {lam}) / ln(2.0)) AS REAL)"
    )
    ae = (
        f"CAST(CAST(c.fv + 1.0 AS REAL) / "
        f"CAST(CAST(c.np1 AS REAL) * CAST({tfn} + CAST(1.0 AS REAL) AS REAL) AS REAL) AS REAL)"
    )
    score = f"CAST(CAST({_f32lit(boost)} * {bm} AS REAL) * {ae} AS REAL)"
    return f"""{prelude()},
cdfr AS ({consts}),
dlv AS (
  SELECT l.docid, v.nt FROM lens l JOIN normv v ON l.fl >= v.lo AND l.fl <= v.hi
)
SELECT p.docid AS docid, {score} AS score
FROM posting p
CROSS JOIN cdfr c
JOIN dlv d ON p.docid = d.docid
WHERE p.term = '{term}'
ORDER BY score DESC, p.docid ASC
LIMIT {k}"""


def _tfn_sql() -> str:
    """NormalizationH2 (c=1) tfn over (p.tf, d.nt docLen, c.avg32): the
    shared SimilarityBase normalization — see dfr_gb2_term_sql."""
    inner = (
        "CAST(CAST(1.0 AS REAL) + CAST(CAST(CAST(1.0 AS REAL) * c.avg32 AS REAL)"
        " / d.nt AS REAL) AS REAL)"
    )
    log2i = f"(ln(CAST({inner} AS DOUBLE)) / ln(2.0))"
    return f"CAST(CAST(CAST(p.tf AS REAL) AS DOUBLE) * {log2i} AS REAL)"


def dfr_pl2_term_sql(term: str, k: int = 10, boost: float = 1.0) -> str:
    """Top-k TermQuery under DFR PL2 (BasicModelP + AfterEffectL + H2 c=1),
    float32-exact (BasicModelP.cs:43-48: λ = f32(f32(ttf+1)/f32(N+1)),
    BM = f32(tfn*log2(f32(tfn/λ)) + f32(f32(λ + f32(1/f32(12·tfn))) − tfn)
    ·log2(e) + 0.5·log2(2π·tfn)); AfterEffectL.cs:32-35: AE = f32(1/f32(tfn+1)))."""
    consts = """
  SELECT CAST(CAST(t.ttf + 1 AS REAL) / CAST(f.max_doc + 1 AS REAL) AS REAL) AS lam,
         CAST(CAST(f.sum_ttf AS REAL) / CAST(f.max_doc AS REAL) AS REAL) AS avg32
  FROM tstats t CROSS JOIN fstats f WHERE t.term = '{T}'""".replace("{T}", term)
    tfn = _tfn_sql()
    one = "CAST(CAST(1.0 AS DOUBLE) AS REAL)"
    term1 = f"CAST({tfn} AS DOUBLE) * (ln(CAST(CAST({tfn} / c.lam AS REAL) AS DOUBLE)) / ln(2.0))"
    mid = (
        f"CAST(CAST(c.lam + CAST({one} / CAST({_f32lit(12.0)} * {tfn} AS REAL) AS REAL) AS REAL)"
        f" - {tfn} AS REAL)"
    )
    term2 = f"CAST({mid} AS DOUBLE) * (1.0 / ln(2.0))"
    term3 = f"0.5 * (ln(2.0 * pi() * CAST({tfn} AS DOUBLE)) / ln(2.0))"
    bm = f"CAST({term1} + {term2} + {term3} AS REAL)"
    ae = f"CAST({one} / CAST({tfn} + {one} AS REAL) AS REAL)"
    score = f"CAST(CAST({_f32lit(boost)} * {bm} AS REAL) * {ae} AS REAL)"
    return f"""{prelude()},
cdfr AS ({consts}),
dlv AS (
  SELECT l.docid, v.nt FROM lens l JOIN normv v ON l.fl >= v.lo AND l.fl <= v.hi
)
SELECT p.docid AS docid, {score} AS score
FROM posting p
CROSS JOIN cdfr c
JOIN dlv d ON p.docid = d.docid
WHERE p.term = '{term}'
ORDER BY score DESC, p.docid ASC
LIMIT {k}"""


def dfr_ixb2_term_sql(
    term: str, ine: bool = False, k: int = 10, boost: float = 1.0
) -> str:
    """Top-k TermQuery under DFR I(n)B2 / I(ne)B2, float32-exact.

    BasicModelIn.cs:35-40: BM = tfn * f32(log2((N+1)/(df+0.5))) — log2 in
    double, cast to REAL, then a REAL multiply. BasicModelIne.cs:35-41:
    ne = N·(1 − power((N−1)/N, F)) in double replaces df. AfterEffectB and
    the boost·BM·AE composition as in dfr_gb2_term_sql."""
    if ine:
        denom = "(c.nn * (1.0 - power((c.nn - 1.0) / c.nn, c.ff)) + 0.5)"
    else:
        denom = "(c.nf + 0.5)"
    consts = """
  SELECT CAST(f.max_doc AS DOUBLE) AS nn,
         CAST(t.df AS DOUBLE) AS nf,
         CAST(t.ttf AS DOUBLE) AS ff,
         CAST(t.ttf + 2 AS REAL) AS fv2,
         CAST(t.df + 1 AS REAL) AS np1,
         CAST(CAST(f.sum_ttf AS REAL) / CAST(f.max_doc AS REAL) AS REAL) AS avg32
  FROM tstats t CROSS JOIN fstats f WHERE t.term = '{T}'""".replace("{T}", term)
    tfn = _tfn_sql()
    l2c = f"CAST(ln((c.nn + 1.0) / {denom}) / ln(2.0) AS REAL)"
    bm = f"CAST({tfn} * {l2c} AS REAL)"
    one = "CAST(CAST(1.0 AS DOUBLE) AS REAL)"
    ae = (
        f"CAST(c.fv2 / CAST(c.np1 * CAST({tfn} + {one} AS REAL) AS REAL) AS REAL)"
    )
    score = f"CAST(CAST({_f32lit(boost)} * {bm} AS REAL) * {ae} AS REAL)"
    return f"""{prelude()},
cdfr AS ({consts}),
dlv AS (
  SELECT l.docid, v.nt FROM lens l JOIN normv v ON l.fl >= v.lo AND l.fl <= v.hi
)
SELECT p.docid AS docid, {score} AS score
FROM posting p
CROSS JOIN cdfr c
JOIN dlv d ON p.docid = d.docid
WHERE p.term = '{term}'
ORDER BY score DESC, p.docid ASC
LIMIT {k}"""


def ib_ll_term_sql(term: str, k: int = 10, boost: float = 1.0) -> str:
    """Top-k TermQuery under IB LL-D-H2, float32-exact (LambdaDF.cs:36-39:
    λ = f32(f32(df+1)/f32(N+1)); DistributionLL.cs:37-40:
    score = f32(boost · f32(−ln(f32(λ/f32(tfn+λ))))))."""
    one = "CAST(CAST(1.0 AS DOUBLE) AS REAL)"
    consts = f"""
  SELECT CAST(CAST(CAST(t.df AS REAL) + {one} AS REAL) /
              CAST(CAST(f.max_doc AS REAL) + {one} AS REAL) AS REAL) AS lam,
         CAST(CAST(f.sum_ttf AS REAL) / CAST(f.max_doc AS REAL) AS REAL) AS avg32
  FROM tstats t CROSS JOIN fstats f WHERE t.term = '{term}'"""
    tfn = _tfn_sql()
    ratio = f"CAST(c.lam / CAST({tfn} + c.lam AS REAL) AS REAL)"
    dist = f"CAST(-ln(CAST({ratio} AS DOUBLE)) AS REAL)"
    score = f"CAST({_f32lit(boost)} * {dist} AS REAL)"
    return f"""{prelude()},
cdfr AS ({consts}),
dlv AS (
  SELECT l.docid, v.nt FROM lens l JOIN normv v ON l.fl >= v.lo AND l.fl <= v.hi
)
SELECT p.docid AS docid, {score} AS score
FROM posting p
CROSS JOIN cdfr c
JOIN dlv d ON p.docid = d.docid
WHERE p.term = '{term}'
ORDER BY score DESC, p.docid ASC
LIMIT {k}"""


def ib_spl_term_sql(term: str, k: int = 10, boost: float = 1.0) -> str:
    """Top-k TermQuery under IB SPL-D-H2, float32-exact
    (DistributionSPL.cs:33-43; λ = LambdaDF clamped to 0.99f at 1)."""
    one = "CAST(CAST(1.0 AS DOUBLE) AS REAL)"
    lam_raw = (
        f"CAST(CAST(CAST(t.df AS REAL) + {one} AS REAL) /"
        f" CAST(CAST(f.max_doc AS REAL) + {one} AS REAL) AS REAL)"
    )
    lam = (
        f"(CASE WHEN {lam_raw} = {one} THEN {_f32lit(0.99)} ELSE {lam_raw} END)"
    )
    consts = f"""
  SELECT {lam} AS lam,
         CAST(CAST(f.sum_ttf AS REAL) / CAST(f.max_doc AS REAL) AS REAL) AS avg32
  FROM tstats t CROSS JOIN fstats f WHERE t.term = '{term}'"""
    tfn = _tfn_sql()
    expo = f"CAST({tfn} / CAST({tfn} + {one} AS REAL) AS REAL)"
    num = f"(pow(CAST(c.lam AS DOUBLE), CAST({expo} AS DOUBLE)) - CAST(c.lam AS DOUBLE))"
    den = f"CAST(CAST({one} - c.lam AS REAL) AS DOUBLE)"
    dist = f"CAST(-ln({num} / {den}) AS REAL)"
    score = f"CAST({_f32lit(boost)} * {dist} AS REAL)"
    return f"""{prelude()},
cdfr AS ({consts}),
dlv AS (
  SELECT l.docid, v.nt FROM lens l JOIN normv v ON l.fl >= v.lo AND l.fl <= v.hi
)
SELECT p.docid AS docid, {score} AS score
FROM posting p
CROSS JOIN cdfr c
JOIN dlv d ON p.docid = d.docid
WHERE p.term = '{term}'
ORDER BY score DESC, p.docid ASC
LIMIT {k}"""


def simbase_term_sql(term: str, name: str, k: int = 10, boost: float = 1.0) -> str:
    """Generic DuckDB oracle for ANY SimilarityBase matrix member — DFR
    "dfr:<basic>:<ae>:<norm>" or IB "ib:<dist>:<lambda>:<norm>" (aliases
    accepted). Third independent implementation of the same cited float32
    op chains (see operators/simbase.py); built compositionally with
    DuckDB lateral column aliases."""
    from .operators.simbase import ALIASES

    spec = ALIASES.get(name, name).split(":")
    assert len(spec) == 4 and spec[0] in ("dfr", "ib"), name
    family, c1, c2, norm = spec
    one = "CAST(CAST(1.0 AS DOUBLE) AS REAL)"
    mu = _f32lit(800.0)  # NormalizationH3 default
    zz = _f32lit(np.float32(0.30))  # NormalizationZ default
    # per-term scalar stats (doubles + the float32 derivations)
    consts = f"""
  SELECT CAST(f.max_doc AS DOUBLE) AS nn,
         CAST(t.df AS DOUBLE) AS nf,
         CAST(t.ttf AS DOUBLE) AS ff,
         CAST(t.ttf + 2 AS REAL) AS fv2,
         CAST(t.df + 1 AS REAL) AS np1,
         CAST(t.ttf AS REAL) AS ff32,
         CAST(t.df AS REAL) AS nf32,
         CAST(f.max_doc AS REAL) AS nn32,
         CAST(f.sum_ttf AS REAL) AS nft32,
         CAST(CAST(t.ttf + 1 AS REAL) / CAST(f.max_doc + 1 AS REAL) AS REAL) AS lamp,
         CAST(CAST(f.sum_ttf AS REAL) / CAST(f.max_doc AS REAL) AS REAL) AS avg32
  FROM tstats t CROSS JOIN fstats f WHERE t.term = '{term}'"""
    # ---- Normalization.Tfn (over tf32 REAL, nt REAL docLen) ----------------
    tf32 = "CAST(p.tf AS REAL)"
    if norm == "no":
        tfn = tf32
    elif norm == "h1":
        tfn = f"CAST(CAST({tf32} * c.avg32 AS REAL) / d.nt AS REAL)"
    elif norm == "h2":
        inner = (
            "CAST(CAST(1.0 AS REAL) + CAST(CAST(CAST(1.0 AS REAL) * c.avg32 AS REAL)"
            " / d.nt AS REAL) AS REAL)"
        )
        tfn = (
            f"CAST(CAST({tf32} AS DOUBLE)"
            f" * (ln(CAST({inner} AS DOUBLE)) / ln(2.0)) AS REAL)"
        )
    elif norm == "h3":
        r = (
            f"CAST(CAST(c.ff32 + {one} AS REAL)"
            f" / CAST(c.nft32 + {one} AS REAL) AS REAL)"
        )
        a = f"CAST({mu} * {r} AS REAL)"
        tfn = (
            f"CAST(CAST(CAST({tf32} + {a} AS REAL)"
            f" / CAST(d.nt + {mu} AS REAL) AS REAL) * {mu} AS REAL)"
        )
    else:  # z
        ratio = "CAST(c.avg32 / d.nt AS REAL)"
        tfn = (
            f"CAST(CAST({tf32} AS DOUBLE)"
            f" * power(CAST({ratio} AS DOUBLE), CAST({zz} AS DOUBLE)) AS REAL)"
        )
    # the final SELECT uses DuckDB lateral aliases: tfn, then t64, then score
    lat = [f"{tfn} AS tfn", "CAST(tfn AS DOUBLE) AS t64"]
    if family == "dfr":
        # ---- BasicModel.Score ---------------------------------------------
        if c1 == "be":
            lat.append("c.ff + 1.0 + t64 AS bigf")
            lat.append("bigf + c.nn AS bign")

            def fh(n, m):
                return (
                    f"((({m}) + 0.5) * (ln(({n}) / ({m})) / ln(2.0))"
                    f" + (({n}) - ({m})) * (ln({n}) / ln(2.0)))"
                )

            bm = (
                f"CAST(-(ln((bign - 1.0) * exp(1.0)) / ln(2.0))"
                f" + {fh('bign + bigf - 1.0', 'bign + bigf - t64 - 2.0')}"
                f" - {fh('bigf', 'bigf - t64')} AS REAL)"
            )
        elif c1 == "d":
            lat.append("c.ff + 1.0 + t64 AS bigf")
            lat.append("t64 / bigf AS phi")
            lat.append("1.0 - phi AS nphi")
            lat.append("1.0 / (c.nn + 1.0) AS pp")
            bm = (
                "CAST((phi * (ln(phi / pp) / ln(2.0))"
                " + nphi * (ln(nphi / (1.0 - pp)) / ln(2.0))) * bigf"
                " + 0.5 * (ln(1.0 + 2.0 * pi() * t64 * nphi) / ln(2.0)) AS REAL)"
            )
        elif c1 == "g":
            lam = "((c.ff + 1.0) / (c.nn + c.ff + 1.0))"
            bm = (
                f"CAST(ln({lam} + 1.0) / ln(2.0)"
                f" + t64 * (ln((1.0 + {lam}) / {lam}) / ln(2.0)) AS REAL)"
            )
        elif c1 == "if":
            l2 = "CAST(ln(1.0 + (c.nn + 1.0) / (c.ff + 0.5)) / ln(2.0) AS REAL)"
            bm = f"CAST(tfn * {l2} AS REAL)"
        elif c1 == "in":
            l2 = "CAST(ln((c.nn + 1.0) / (c.nf + 0.5)) / ln(2.0) AS REAL)"
            bm = f"CAST(tfn * {l2} AS REAL)"
        elif c1 == "ine":
            ne = "(c.nn * (1.0 - power((c.nn - 1.0) / c.nn, c.ff)))"
            l2 = f"CAST(ln((c.nn + 1.0) / ({ne} + 0.5)) / ln(2.0) AS REAL)"
            bm = f"CAST(tfn * {l2} AS REAL)"
        else:  # p
            term1 = "t64 * (ln(CAST(CAST(tfn / c.lamp AS REAL) AS DOUBLE)) / ln(2.0))"
            mid = (
                f"CAST(CAST(c.lamp + CAST({one} / CAST({_f32lit(12.0)} * tfn"
                f" AS REAL) AS REAL) AS REAL) - tfn AS REAL)"
            )
            term2 = f"CAST({mid} AS DOUBLE) * (1.0 / ln(2.0))"
            term3 = "0.5 * (ln(2.0 * pi() * t64) / ln(2.0))"
            bm = f"CAST({term1} + {term2} + {term3} AS REAL)"
        lat.append(f"{bm} AS bm")
        # ---- AfterEffect.Score --------------------------------------------
        if c2 == "no":
            ae = one
        elif c2 == "b":
            ae = (
                f"CAST(c.fv2 / CAST(c.np1 * CAST(tfn + {one} AS REAL)"
                f" AS REAL) AS REAL)"
            )
        else:  # l
            ae = f"CAST({one} / CAST(tfn + {one} AS REAL) AS REAL)"
        score = f"CAST(CAST({_f32lit(boost)} * bm AS REAL) * {ae} AS REAL)"
    else:  # ib
        lamnum = "c.nf32" if c2 == "df" else "c.ff32"
        lam_raw = (
            f"CAST(CAST({lamnum} + {one} AS REAL)"
            f" / CAST(c.nn32 + {one} AS REAL) AS REAL)"
        )
        if c1 == "spl":
            lat.append(
                f"(CASE WHEN {lam_raw} = {one} THEN {_f32lit(0.99)}"
                f" ELSE {lam_raw} END) AS lam"
            )
            expo = f"CAST(tfn / CAST(tfn + {one} AS REAL) AS REAL)"
            num = (
                f"(power(CAST(lam AS DOUBLE), CAST({expo} AS DOUBLE))"
                f" - CAST(lam AS DOUBLE))"
            )
            den = f"CAST(CAST({one} - lam AS REAL) AS DOUBLE)"
            dist = f"CAST(-ln({num} / {den}) AS REAL)"
        else:  # ll
            lat.append(f"{lam_raw} AS lam")
            ratio = "CAST(lam / CAST(tfn + lam AS REAL) AS REAL)"
            dist = f"CAST(-ln(CAST({ratio} AS DOUBLE)) AS REAL)"
        score = f"CAST({_f32lit(boost)} * {dist} AS REAL)"
    lat_sql = ",\n         ".join(lat)
    return f"""{prelude()},
cdfr AS ({consts}),
dlv AS (
  SELECT l.docid, v.nt FROM lens l JOIN normv v ON l.fl >= v.lo AND l.fl <= v.hi
)
SELECT docid, score FROM (
  SELECT p.docid AS docid,
         {lat_sql},
         {score} AS score
  FROM posting p
  CROSS JOIN cdfr c
  JOIN dlv d ON p.docid = d.docid
  WHERE p.term = '{term}'
)
ORDER BY score DESC, docid ASC
LIMIT {k}"""


def constant_score_sql(term_cond: str, k: int) -> str:
    """Docids of terms matching a terms-dict predicate, constant score 1.0f."""
    return f"""{prelude()}
SELECT DISTINCT docid, CAST(CAST(1.0 AS DOUBLE) AS REAL) AS score
FROM posting
WHERE {term_cond}
ORDER BY score DESC, docid ASC
LIMIT {k}"""


# ---------------------------------------------------------------------------
# UAX#29 analyzer-parity gate: a planted punctuated corpus exercising the
# word-break joins the transcript corpus (pure [a-z0-9 ]) never does —
# MidLetter/MidNumLet/MidNum/ExtendNumLet rules per the reference's
# StandardTokenizerImpl.cs and the expectations in its own
# Tests.Analysis.Common/Analysis/Core/TestStandardAnalyzer.cs.

UAX29_GATE_TEXTS: list[tuple[int, str]] = [
    (0, "The server won't connect to 10.0.0.1: retry_count 3,000"),
    (1, "don't re-use O'Reilly's b.com A::B guide v2.1.4"),
    (2, "foo_bar _tag x_ ___ B2B 2B ac/dc some-dashed-phrase"),
    (3, ""),
    (4, "A:B a.:b 1,.2 21.35 word 216.239.63.104 Mixed.Case:Chain"),
]


def analyze_uax29(spark):
    """(id, pos, term) for the planted corpus via the REAL analyzer UDF —
    positions use reference slot semantics (dropped tokens leave gaps)."""
    from pyspark.sql import functions as F

    from .functions.analysis import tokenize_positions_udf

    df = spark.createDataFrame(UAX29_GATE_TEXTS, "id long, text string")
    tp = tokenize_positions_udf()
    return (
        df.select("id", F.explode(tp(F.col("text"))).alias("tp"))
        .select(
            "id",
            F.col("tp.pos").cast("long").alias("pos"),
            F.col("tp.term").alias("term"),
        )
        .orderBy("id", "pos")
    )


def analyze_uax29_sql() -> str:
    """DuckDB oracle: same corpus as VALUES, same RE2 token pattern, same
    slot-position semantics (filter AFTER enumerating raw matches)."""
    stop_list = ", ".join(f"'{w}'" for w in sorted(ENGLISH_STOP_WORDS))
    values = ",\n    ".join(
        f"({i}, '{t.replace(chr(39), chr(39) * 2)}')" for i, t in UAX29_GATE_TEXTS
    )
    return f"""WITH udocs AS (
  SELECT * FROM (VALUES
    {values}
  ) AS v(id, text)
),
uraw AS (
  SELECT id,
         list_transform(regexp_extract_all(COALESCE(text, ''), '{TOKEN_PATTERN_RE2_SQL}'),
                        t -> lower(t)) AS raw
  FROM udocs
)
SELECT CAST(id AS BIGINT) AS id, CAST(p - 1 AS BIGINT) AS pos, tok AS term
FROM (
  SELECT id, unnest(raw) AS tok,
         unnest(generate_series(1, len(raw))) AS p
  FROM uraw
)
WHERE length(tok) <= {MAX_TOKEN_LENGTH} AND tok NOT IN ({stop_list})
ORDER BY id, pos"""


def shingle_top_sql(k: int = 20) -> str:
    """Top-k bigram shingles by doc-freq (ShingleFilter semantics: '_'
    filler at stop/too-long position gaps, all-filler grams suppressed,
    ' ' separator). Matches functions.analysis.shingle_tokens exactly."""
    return f"""{prelude()},
{_positions_cte()},
mx AS (SELECT docid, max(pos) AS last FROM pos GROUP BY docid),
grams AS (
  SELECT m.docid,
         COALESCE(a.term, '_') || ' ' || COALESCE(b.term, '_') AS shingle
  FROM (
    SELECT docid, unnest(generate_series(0, last - 1)) AS p FROM mx
  ) m
  LEFT JOIN pos a ON a.docid = m.docid AND a.pos = m.p
  LEFT JOIN pos b ON b.docid = m.docid AND b.pos = m.p + 1
  WHERE a.term IS NOT NULL OR b.term IS NOT NULL
)
SELECT shingle, count(DISTINCT docid) AS df, count(*) AS ttf
FROM grams GROUP BY shingle
ORDER BY df DESC, shingle ASC LIMIT {k}"""


def phonetic_top_sql(encoder: str, inject: bool = True, k: int = 20) -> str:
    """Top-k emitted terms of PhoneticFilter(encoder, inject) by doc-freq
    over the analyzed stream. The encoder runs over the DISTINCT
    vocabulary (a per-batch memo engine-side; a vocab CTE here) — encode
    cost ∝ vocabulary, not token stream. Matches
    functions.phonetic.phonetic_udf exactly."""
    from .functions import phonetic as ph

    from .functions import dmsoundex as dms

    cte = {
        "soundex": ph.soundex_cte,
        "refined_soundex": ph.refined_soundex_cte,
        "caverphone2": ph.caverphone2_cte,
        "nysiis": ph.nysiis_cte,
        "metaphone": ph.metaphone_cte,
        "cologne": ph.cologne_cte,
        "match_rating": ph.match_rating_cte,
        "caverphone1": ph.caverphone1_cte,
        "daitch_mokotoff": dms.dm_cte,
    }[encoder]("vocab")
    if inject:
        em = f"""em AS (
  SELECT t.docid, t.tok AS term FROM tt t
  UNION ALL
  SELECT t.docid, e.ph AS term FROM tt t JOIN encv e ON t.tok = e.tok
  WHERE e.ph IS NOT NULL AND e.ph <> '' AND e.ph <> t.tok
)"""
    else:
        em = f"""em AS (
  SELECT t.docid,
         CASE WHEN e.ph IS NOT NULL AND e.ph <> '' AND e.ph <> t.tok
              THEN e.ph ELSE t.tok END AS term
  FROM tt t JOIN encv e ON t.tok = e.tok
)"""
    p = prelude()
    if encoder in ("nysiis", "metaphone", "cologne"):  # recursive-CTE scans
        p = "WITH RECURSIVE " + p[len("WITH "):]
    return f"""{p},
tt AS (SELECT docid, unnest(tokens) AS tok FROM toks),
vocab AS (SELECT DISTINCT tok FROM tt),
{cte},
{em}
SELECT term, count(DISTINCT docid) AS df, count(*) AS ttf
FROM em GROUP BY term ORDER BY df DESC, term ASC LIMIT {k}"""


def dm_codes_sql(k: int = 40) -> str:
    """Full BRANCHING Daitch-Mokotoff soundex() per distinct analyzed
    term — all branch codes '|'-joined in branch insertion order
    (DaitchMokotoffSoundex.cs GetSoundex). The oracle unrolls the scan
    to materialized per-step CTEs with window-based in-step branch
    dedup (functions/dmsoundex.dm_branch_cte)."""
    from .functions.dmsoundex import dm_branch_cte

    return f"""{prelude()},
tt AS (SELECT docid, unnest(tokens) AS tok FROM toks),
vocab AS (SELECT DISTINCT tok FROM tt),
{dm_branch_cte("vocab")}
SELECT tok AS term, ph AS dm FROM encb ORDER BY term ASC LIMIT {k}"""


def dmetaphone_top_sql(inject: bool = True, k: int = 20) -> str:
    """Top-k emitted terms of DoubleMetaphoneFilter(inject) by doc-freq.
    The encoder runs as a generated recursive-CTE walk over the distinct
    vocabulary (functions/dmetaphone.dmetaphone_cte); emission mirrors
    the filter's queue trace: original first, then primary (if non-empty
    and != token), then the differing alternate; replace mode falls back
    to the original when nothing qualifies."""
    from .functions.dmetaphone import dmetaphone_cte

    pq = "e.pri IS NOT NULL AND e.pri <> '' AND e.pri <> t.tok"
    aq = (
        "e.alt IS NOT NULL AND e.alt <> '' AND e.alt <> e.pri"
        " AND e.pri <> t.tok"
    )
    if inject:
        em = f"""em AS (
  SELECT t.docid, t.tok AS term FROM tt t
  UNION ALL
  SELECT t.docid, e.pri FROM tt t JOIN encv e ON t.tok = e.tok WHERE {pq}
  UNION ALL
  SELECT t.docid, e.alt FROM tt t JOIN encv e ON t.tok = e.tok WHERE {aq}
)"""
    else:
        em = f"""em AS (
  SELECT t.docid, e.pri AS term FROM tt t JOIN encv e ON t.tok = e.tok
  WHERE {pq}
  UNION ALL
  SELECT t.docid, e.alt FROM tt t JOIN encv e ON t.tok = e.tok WHERE {aq}
  UNION ALL
  SELECT t.docid, t.tok FROM tt t JOIN encv e ON t.tok = e.tok
  WHERE NOT ({pq}) AND NOT ({aq})
)"""
    p = "WITH RECURSIVE " + prelude()[len("WITH "):]
    return f"""{p},
tt AS (SELECT docid, unnest(tokens) AS tok FROM toks),
vocab AS (SELECT DISTINCT tok FROM tt),
{dmetaphone_cte("vocab")},
{em}
SELECT term, count(DISTINCT docid) AS df, count(*) AS ttf
FROM em GROUP BY term ORDER BY df DESC, term ASC LIMIT {k}"""


def edge_ngram_top_sql(
    min_gram: int = 1, max_gram: int = 2, k: int = 20
) -> str:
    """Top-k EdgeNGramTokenFilter grams by doc-freq over the analyzed
    stream (front grams, sizes min..min(max, len) — EdgeNGramTokenFilter.cs;
    matches functions.ngram.edge_ngrams)."""
    expr = (
        f"list_transform(range({min_gram}, "
        f"least({max_gram}, length(t)) + 1), n -> left(t, CAST(n AS INT)))"
    )
    return f"""{prelude()},
grams AS (
  SELECT docid, unnest(flatten(list_transform(tokens, t -> {expr}))) AS gram
  FROM toks
)
SELECT gram, count(DISTINCT docid) AS df, count(*) AS ttf
FROM grams GROUP BY gram
ORDER BY df DESC, gram ASC LIMIT {k}"""


def ngram_top_sql(min_gram: int = 2, max_gram: int = 3, k: int = 20) -> str:
    """Top-k NGramTokenFilter grams by doc-freq (all positions, sizes
    min..max per position; tokens shorter than minGram removed —
    NGramTokenFilter.cs + CodepointCountFilter; matches
    functions.ngram.ngrams)."""
    sizes = ", ".join(str(g) for g in range(min_gram, max_gram + 1))
    per_pos = (
        f"list_filter(list_transform([{sizes}], g -> "
        f"CASE WHEN p + g - 1 <= length(t) "
        f"THEN substr(t, CAST(p AS INT), CAST(g AS INT)) END), "
        f"x -> x IS NOT NULL)"
    )
    per_tok = (
        f"CASE WHEN length(t) < {min_gram} THEN CAST([] AS VARCHAR[]) "
        f"ELSE flatten(list_transform(range(1, length(t) + 1), "
        f"p -> {per_pos})) END"
    )
    return f"""{prelude()},
grams AS (
  SELECT docid, unnest(flatten(list_transform(tokens, t -> {per_tok})))
         AS gram
  FROM toks
)
SELECT gram, count(DISTINCT docid) AS df, count(*) AS ttf
FROM grams GROUP BY gram
ORDER BY df DESC, gram ASC LIMIT {k}"""


def common_grams_top_sql(k: int = 20) -> str:
    """Top-k CommonGramsFilter terms (unigrams + '_' bigrams where either
    adjacent member is a common word) by doc-freq over the UNSTOPPED
    lowercase stream — CommonGramsFilter.cs replaces stop removal; the
    common set is the 33 English stop words. Matches
    functions.ngram.common_grams."""
    from .functions.analysis import stop_words

    common = _sql_quoted_list(stop_words("standard"))
    raw = (
        f"list_filter(list_transform(regexp_extract_all(COALESCE(text,"
        f" ''), '{TOKEN_PATTERN_RE2_SQL}'), t -> lower(t)), "
        f"t -> length(t) <= {MAX_TOKEN_LENGTH})"
    )
    return f"""{prelude()},
rawu AS (
  SELECT docid, unnest(tl) AS tok, generate_subscripts(tl, 1) AS ord
  FROM (SELECT docid, {raw} AS tl FROM docs) z
),
stream AS (
  SELECT docid, tok AS term FROM rawu
  UNION ALL
  SELECT a.docid, a.tok || '_' || b.tok
  FROM rawu a JOIN rawu b ON a.docid = b.docid AND b.ord = a.ord + 1
  WHERE a.tok IN ({common}) OR b.tok IN ({common})
)
SELECT term, count(DISTINCT docid) AS df, count(*) AS ttf
FROM stream GROUP BY term
ORDER BY df DESC, term ASC LIMIT {k}"""


def freetext_suggest_sql(
    w1: str, prefix: str, k: int = 10, alpha: float = 0.4
) -> str:
    """FreeTextSuggester stupid-backoff scores (see
    operators.suggest.freetext_suggest): bigram path c(w1 t)/c(w1) from
    consecutive-position pairs, unigram backoff alpha * c(t)/totTokens.
    tstats.ttf IS the unigram count; sum(ttf) the total token count."""
    return f"""{prelude()},
{_positions_cte()},
big AS (
  SELECT b.term AS term, count(*) AS c2
  FROM pos a JOIN pos b ON a.docid = b.docid AND b.pos = a.pos + 1
  WHERE a.term = '{w1}' AND starts_with(b.term, '{prefix}')
  GROUP BY b.term
),
cw AS (SELECT sum(ttf) AS c1w FROM tstats WHERE term = '{w1}'),
tot AS (SELECT sum(ttf) AS T FROM tstats)
SELECT u.term AS token,
       round(CASE WHEN b.c2 IS NOT NULL
             THEN CAST(b.c2 AS DOUBLE) / CAST(cw.c1w AS DOUBLE)
             ELSE CAST({alpha} AS DOUBLE) * CAST(u.ttf AS DOUBLE)
                  / CAST(tot.T AS DOUBLE) END, 6) AS score
FROM tstats u
LEFT JOIN big b ON u.term = b.term
CROSS JOIN cw CROSS JOIN tot
WHERE starts_with(u.term, '{prefix}')
ORDER BY score DESC, token ASC LIMIT {k}"""
