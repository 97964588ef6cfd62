"""Corpus-level hygiene operators for LLM training-data pipelines:
boilerplate-line removal, benchmark decontamination, intra-doc
repetition counts.

These are the standard web-corpus curation steps (CCNet line-dedup;
Gopher/Dolma repetition rules; test-set n-gram decontamination) built
Spark-first: every per-doc feature is a pure Column expression
(whole-stage codegen), and the two corpus-level ops reduce to one
map-side-combinable aggregation plus one broadcast (anti-/semi-) join —
the shapes that survive a 100 TB scan. No Python crosses the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dedup.textstats import tokens_expr

#: broadcast the boilerplate-line set into the anti-join only below this
#: many distinct lines (~100 B/line → ≤ ~200 MB build). At CCNet's
#: max_df=1 on a real web corpus "boilerplate" = every line occurring in
#: ≥2 docs — a corpus-scale set — so the hint must be counted-gated like
#: every other broadcast in this repo (verify.BROADCAST_SIGS_MAX,
#: streaming.PROBE_BROADCAST_MAX_ROWS), never unconditional.
BOILER_BROADCAST_MAX = 2_000_000


def _clean_tokens(col: str | Column) -> Column:
    """Whitespace tokens with empties removed (edge/double spaces)."""
    return F.array_remove(tokens_expr(col), "")


def word_ngrams_expr(col: str | Column, n: int) -> Column:
    """Space-joined word n-grams of a whitespace-tokenized text. Docs
    with fewer than ``n`` tokens yield an empty list (never a partial
    gram). Pure SQL; the guard matters because Spark ``sequence(1, x)``
    with x < 1 COUNTS DOWN instead of returning empty."""
    toks = _clean_tokens(col)
    sz = F.size(toks)
    return F.when(
        sz >= n,
        F.transform(
            F.sequence(F.lit(1), sz - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_counts(col: str | Column, n: int = 2) -> dict[str, Column]:
    """Intra-document n-gram repetition (Gopher/Dolma quality rule):
    total vs distinct word n-grams. Emitted as two exact BIGINTs, NOT a
    ratio — distinct/total can land on exact .xxxx5 decimal ties (e.g.
    a 64-gram doc), where Spark (HALF_UP on the decimal string) and
    binary-double engines disagree by one digit (CLAUDE.md); consumers
    derive the fraction at whatever precision they need."""
    grams = word_ngrams_expr(col, n)
    return {
        "n_ngrams": F.size(grams).cast("long"),
        "n_distinct_ngrams": F.size(F.array_distinct(grams)).cast("long"),
    }


def chunk_lines_expr(col: str | Column, width: int = 10) -> Column:
    """Deterministic 'line'-ification of word-stream corpora:
    consecutive ``width``-token chunks joined by single spaces. Real
    crawl text would use split(text, '\\n') directly; the driver's
    synthetic tables carry no newlines, so the chunking supplies an
    equivalent stable line structure for ``remove_common_lines`` (the
    operator itself is line-source-agnostic: any array<string> column)."""
    toks = _clean_tokens(col)
    sz = F.size(toks)
    n_chunks = F.ceil(sz / F.lit(float(width))).cast("int")
    return F.when(
        sz > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(toks, i * width + 1, width), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _pct_upper(s: Column) -> Column:
    """Uppercase the hex digits of every %xx percent-escape (RFC 3986
    §6.2.2.1: %2f and %2F are the same octet; the canonical form is
    uppercase). Pure SQL: split on '%', uppercase the 2-char hex head
    of each following piece, rejoin — a piece not starting with two hex
    digits (malformed escape) is re-emitted unchanged. Idempotent."""
    parts = F.split(s, "%")
    tail = F.transform(
        F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0))),
        lambda p: F.when(
            p.rlike("^[0-9a-fA-F]{2}"),
            F.concat(F.upper(p.substr(F.lit(1), F.lit(2))), p.substr(F.lit(3), F.length(p))),
        ).otherwise(p),
    )
    return F.when(
        F.size(parts) > 1,
        F.concat(F.element_at(parts, 1), F.lit("%"), F.array_join(tail, "%")),
    ).otherwise(s)


def canonical_url_expr(col: str | Column) -> Column:
    """Crawl-frontier URL canonicalization, pure SQL: lowercase scheme
    and host, preserve (non-empty) userinfo verbatim — credentials are
    case-sensitive, but an empty ``user@``-less marker is dropped — drop
    the fragment, drop protocol-default ports (http:80, https:443),
    strip trailing slashes from the path, uppercase percent-escape hex
    (%2f → %2F, RFC 3986 canonical form) in path and query, sort query
    parameters (after escape normalization, so the sort key is the
    canonical byte form). Two captures of the same resource then compare
    equal on the canonical string — the key for exact-URL dedup /
    frontier seen-sets at crawl scale (a 100 TB frontier dedup is a
    groupBy on this expression; everything here is whole-stage
    codegen).

    Malformed URLs (Spark 4's parse_url THROWS on e.g. an invalid
    percent-escape) canonicalize to NULL via ``try_parse_url`` — on a
    real crawl one broken URL must never fail a 100 TB job; callers
    coalesce to the raw string or filter as policy dictates."""
    c = F.col(col) if isinstance(col, str) else col
    proto = F.lower(F.try_parse_url(c, F.lit("PROTOCOL")))
    host = F.lower(F.try_parse_url(c, F.lit("HOST")))
    userinfo = F.try_parse_url(c, F.lit("USERINFO"))
    ui = F.when(
        userinfo.isNotNull() & (userinfo != ""), F.concat(userinfo, F.lit("@"))
    ).otherwise(F.lit(""))
    auth = F.try_parse_url(c, F.lit("AUTHORITY"))
    port = F.regexp_extract(auth, ":(\\d+)$", 1)
    keep_port = (port != "") & ~(
        ((proto == "http") & (port == "80"))
        | ((proto == "https") & (port == "443"))
    )
    path = _pct_upper(
        F.regexp_replace(
            F.coalesce(F.try_parse_url(c, F.lit("PATH")), F.lit("")), "/+$", ""
        )
    )
    query = _pct_upper(F.try_parse_url(c, F.lit("QUERY")))
    qsorted = F.when(
        query.isNotNull() & (query != ""),
        F.concat(F.lit("?"), F.array_join(F.array_sort(F.split(query, "&")), "&")),
    ).otherwise(F.lit(""))
    return F.concat(
        proto,
        F.lit("://"),
        ui,
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        qsorted,
    )


#: PII patterns, applied in order. Deliberately restricted to syntax
#: with identical semantics in Java regex (Spark) and RE2 (DuckDB
#: oracle / Arrow): character classes, bounded counts, \b, no
#: lookaround, no backrefs in the replacement.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\+\d{9,15}", "<PHONE>"),
]


def redact_pii_expr(col: str | Column) -> Column:
    """Corpus-hygiene PII redaction (emails, IPv4, international phone
    numbers → typed placeholders): chained ``regexp_replace`` — pure
    whole-stage codegen, a 100 TB redaction pass is one projection over
    the scan. Email is applied first so its local-part digits cannot be
    half-eaten by the phone rule."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, rep in PII_PATTERNS:
        c = F.regexp_replace(c, pat, rep)
    return c


def chunk_plan(
    docs: DataFrame,
    capacity: int,
    text_col: str = "norm_text",
    id_col: str = "doc_id",
    shard_col: str | None = None,
) -> DataFrame:
    """Sequence-packing plan for LLM training (concat-then-chunk): docs
    are concatenated in ``id_col`` order and sliced into fixed
    ``capacity``-token chunks; each doc gets the [start_chunk,
    end_chunk] range its tokens land in. Pure window SQL — a running
    token sum and two floor divisions — so the whole plan is one
    windowed projection (the oracle twin is the same SQL in DuckDB).

    Token counts are whitespace tokens of the (normalized,
    single-spaced) text — identical to the ``token_count`` operator's
    definition, so plans and token budgets agree across the API.

    Scale shape: with ``shard_col`` the window partitions by shard and
    packing is per-shard parallel (the deployment mode — a global
    total order over 10^12 docs is a single-partition window and is
    only acceptable for small corpora, which is why the unsharded form
    exists but warns here)."""
    from pyspark.sql import Window

    tok = F.size(F.split(F.col(text_col), " ")).cast("long")
    w = (
        Window.partitionBy(shard_col).orderBy(id_col)
        if shard_col
        else Window.orderBy(id_col)
    )
    out_cols = [id_col] + ([shard_col] if shard_col else [])
    d = docs.select(*out_cols, tok.alias("n_tokens"))
    cum = F.sum("n_tokens").over(w)
    start = F.floor((cum - F.col("n_tokens")) / capacity).cast("long")
    end = F.greatest(start, F.floor((cum - 1) / capacity).cast("long"))
    return d.select(
        *out_cols,
        "n_tokens",
        start.alias("start_chunk"),
        end.alias("end_chunk"),
    )


def token_vocab(
    docs: DataFrame, text_col: str = "text", k: int = 100, id_col: str = "doc_id"
) -> DataFrame:
    """Corpus vocabulary: top-``k`` whitespace tokens by total count,
    with per-token document frequency. Deterministic under ties (order
    by count desc, then token asc — a total order, so the LIMIT
    boundary is engine-independent).

    Scale shape: Catalyst rewrites the single ``count_distinct`` as a
    two-level aggregate — a partial (tok, doc_id)-keyed hash aggregate
    collapses each task's token stream to its DISTINCT pairs (carrying
    the plain count alongside) before the first shuffle, so that
    shuffle ships per-task distinct (tok, doc_id) rows: bounded by the
    token stream and far smaller than |tokens|, but larger than |vocab|
    (a plan test pins the shape). A second tok-keyed exchange finishes
    both counts, and the final orderBy+limit fuses into
    TakeOrderedAndProject (per-partition top-k, no global sort)."""
    toks = docs.select(id_col, F.explode(_clean_tokens(text_col)).alias("tok"))
    counts = toks.groupBy("tok").agg(
        F.count("*").cast("long").alias("n_occurrences"),
        F.count_distinct(id_col).cast("long").alias("n_docs"),
    )
    return counts.orderBy(F.desc("n_occurrences"), F.asc("tok")).limit(k)


def remove_common_lines(
    docs: DataFrame,
    line_col: str = "lines",
    id_col: str = "doc_id",
    max_df: int = 1,
    max_df_frac: float | None = None,
    broadcast_boiler: bool | None = None,
) -> DataFrame:
    """CCNet-style boilerplate-line removal: a line occurring in more
    than ``max_df`` DISTINCT documents is boilerplate; every document is
    rebuilt from its surviving lines in original order.
    ``max_df_frac`` (e.g. 0.001) raises the threshold to that fraction
    of the corpus doc count — at web scale "appears in ≥2 docs" flags
    every duplicated content line, not just true boilerplate, so the
    absolute default is a small-corpus setting.

    Returns (id, n_lines, n_kept, clean_text) for EVERY input doc (a doc
    whose lines are all boilerplate keeps a row with n_kept = 0).

    Scale shape: the line-frequency aggregation is a hash aggregate with
    map-side partial combine over the exploded lines; the boilerplate
    set is COUNTED (cheap — it is the output of that aggregation, kept
    as a deserialized cache so the count and the join share one
    computation) and broadcast into the anti-join only under
    ``BOILER_BROADCAST_MAX`` rows — an over-threshold set falls back to
    the shuffle anti-join instead of an unbounded driver/executor
    broadcast build. ``broadcast_boiler`` forces either path (skipping
    the count). Order-preserving rebuild = sort the collected
    (ln_idx, line) structs per doc — array_sort on structs orders by
    field position, making the collect_list order-independence explicit
    (SURVEY §4.2 partitioning-independent outputs)."""
    lines = docs.select(id_col, F.posexplode(line_col).alias("ln_idx", "line"))
    thresh = max_df
    if max_df_frac is not None:
        thresh = max(max_df, int(max_df_frac * docs.count()))
    boiler = (
        lines.groupBy("line")
        .agg(F.count_distinct(id_col).alias("df"))
        .filter(F.col("df") > thresh)
        .select("line")
    )
    if broadcast_boiler is None:
        boiler = boiler.persist()
        broadcast_boiler = boiler.count() <= BOILER_BROADCAST_MAX
    kept = lines.join(
        F.broadcast(boiler) if broadcast_boiler else boiler, "line", "left_anti"
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ln_idx", "line"))),
                lambda s: s["line"],
            ),
            " ",
        ).alias("clean_text"),
    )
    base = docs.select(id_col, F.size(line_col).cast("long").alias("n_lines"))
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_grams: bool = True,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Test-set decontamination: flag training docs sharing any word
    ``n``-gram with a benchmark corpus. Returns (id, n_hits,
    contaminated) for every doc; n_hits = count of DISTINCT overlapping
    n-grams.

    Scale shape: the benchmark side (small by nature) collapses to a
    distinct gram set and is broadcast into a left-semi probe of the
    exploded training grams — the 100 TB side never shuffles on the
    gram key. ``hash_grams`` ships xxhash64(gram) 8-byte keys instead
    of gram strings through the probe (~10× smaller broadcast; a 64-bit
    collision can only ADD a phantom hit, odds ~|grams|²/2⁶⁴). For a
    benchmark too big to broadcast, pass ``broadcast_bench=False`` and
    let the semi-join shuffle — same plan shape the LSH joins use."""
    key = (
        (lambda c: F.xxhash64(c).alias("gram"))
        if hash_grams
        else (lambda c: c.alias("gram"))
    )

    def grams(df: DataFrame) -> DataFrame:
        # explode in its own projection: a generator can't nest inside
        # another expression (xxhash64(explode(...)) is rejected)
        e = df.select(id_col, F.explode(word_ngrams_expr(text_col, n)).alias("g"))
        return e.select(id_col, key(F.col("g")))

    bench_grams = grams(bench).select("gram").distinct()
    if broadcast_bench:
        bench_grams = F.broadcast(bench_grams)
    hits = (
        grams(docs)
        .join(bench_grams, "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count_distinct("gram").alias("n_hits"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Per-domain corpus reporting
# ---------------------------------------------------------------------------

#: scheme://[userinfo@]host[:port]... — host is capture group 1. The
#: pattern is restricted to the Java-regex ∩ RE2 common subset (no
#: lookaround/backrefs) so the DuckDB oracle twin matches byte-for-byte,
#: same discipline as PII_PATTERNS.
HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://(?:[^/?#@]*@)?([^/?#:]+)"

#: last two dot-labels of a host — the apex-domain approximation used
#: when no public-suffix list is shipped (a real deployment would swap
#: in eTLD+1 from the PSL; the aggregation shape is identical).
APEX_RE = r"([^.]+\.[^.]+)$"


def host_expr(col: str | Column) -> Column:
    """Lowercased host (authority minus userinfo/port) of a URL; ''
    when the value does not parse as an absolute URL. Pure codegen."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_extract(c, HOST_RE, 1))


def apex_domain_expr(col: str | Column) -> Column:
    """Apex domain (last two host labels) of a URL; single-label hosts
    (e.g. ``localhost``) fall back to the host itself."""
    h = host_expr(col)
    a = F.regexp_extract(h, APEX_RE, 1)
    return F.when(a == "", h).otherwise(a)


def domain_stats(
    docs: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-domain corpus report (the standard web-pipeline curation
    view: which domains dominate the crawl, how many hosts/langs they
    span, how many bytes they contribute). Returns one row per apex
    domain: (domain, n_docs, n_hosts, n_langs, total_chars).

    Scale shape: host/apex extraction is a pure codegen projection over
    the scan. Two DIFFERENT-column ``count_distinct`` force Catalyst's
    gid-Expand plan: each row expands ×3 (one branch per distinct
    column + one for the plain aggregates) into a per-task
    (domain, host, lang, gid)-keyed PARTIAL aggregate, so the first
    shuffle carries per-task distinct expanded keys — bounded by ~3×
    the distinct (domain, host, lang) triple count, far below the row
    count — and a second domain-keyed exchange finishes (plan pinned in
    tests/test_plans.py). No Python, no window, no join."""
    d = docs.select(
        apex_domain_expr(url_col).alias("domain"),
        host_expr(url_col).alias("host"),
        F.col(lang_col).alias("lang"),
        F.length(text_col).cast("long").alias("n_chars"),
    )
    return d.groupBy("domain").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count_distinct("host").cast("long").alias("n_hosts"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# First-occurrence paragraph dedup (RefinedWeb/Dolma-style)
# ---------------------------------------------------------------------------


def keep_first_paragraphs(
    docs: DataFrame, para_col: str = "paras", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-global exact paragraph dedup, keep-first: a paragraph is
    kept only at its first occurrence in (``id_col``, position) order;
    every later exact copy (across OR within documents) is dropped, and
    each document is rebuilt from its surviving paragraphs in original
    order. This is the RefinedWeb/Dolma exact-paragraph pass —
    complementary to ``remove_common_lines`` (which drops boilerplate
    from EVERY doc; this keeps one canonical copy).

    Returns (id, n_paras, n_kept, clean_text) for every input doc.

    Scale shape: one ``min(struct(doc, pos))`` hash aggregate keyed by
    the paragraph — map-side-combinable, so each task first collapses
    its local duplicates — whose OUTPUT already IS the kept set (one
    (doc, pos, para) winner per distinct paragraph; no join-back), then
    one doc-keyed regroup to rebuild. At 100 TB the group key would be
    a 128-bit content hash with the string carried via any_value; the
    string key here keeps the operator collision-free and lets the SQL
    oracle twin bind exactly."""
    e = docs.select(id_col, F.posexplode(para_col).alias("p_idx", "para"))
    firsts = e.groupBy("para").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("p_idx").alias("i"))).alias("f")
    )
    kept = firsts.select(
        F.col("f.d").alias(id_col), F.col("f.i").alias("p_idx"), "para"
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p_idx", "para"))),
                lambda s: s["para"],
            ),
            " ",
        ).alias("clean_text"),
    )
    base = docs.select(id_col, F.size(para_col).cast("long").alias("n_paras"))
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        "n_paras",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------

#: fixed-point denominator for sampling rates (2^20): rates are
#: expressed as integer thresholds so the keep test is exact integer
#: arithmetic — reproducible across engines, partitionings and reruns,
#: unlike df.sample() whose output depends on the split layout.
SAMPLE_DENOM = 1 << 20


def sample_hash_expr(col: str | Column) -> Column:
    """Deterministic per-row bucket in [0, 2^20) from an integer id:
    a multiplicative (Knuth) hash in plain BIGINT arithmetic — chosen
    over xxhash64 so the SQL oracle twin computes the identical value
    (DuckDB has no xxhash64). The id is folded mod 1000003 first so the
    multiply stays far inside int64 under ANSI overflow checking; the
    fold uses ``pmod`` so negative ids still land in [0, 2^20) (plain
    ``%`` keeps the sign in both Spark and DuckDB — a negative bucket
    would pass every threshold). For non-negative ids this equals the
    plain-``%`` form the oracles use."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.pmod(c, F.lit(1000003)) * F.lit(2654435761) + F.lit(40503)) % F.lit(
        SAMPLE_DENOM
    )


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified downsampling (the language-rebalancing
    step of multilingual corpus curation): each stratum keeps
    approximately ``rates[stratum]`` of its rows, selected by a pure
    hash of the row id — stable across reruns, partitionings and
    engines (no RNG state). Emits the row id, stratum and bucket value.

    Scale shape: a single codegen filter over the scan — NO shuffle,
    NO sample() (whose row picks depend on partition layout). The
    per-stratum threshold is a literal CASE, so predicate pushdown and
    column pruning survive.

    Thresholds are ``round(rate * SAMPLE_DENOM)`` (nearest integer, not
    truncation): a non-dyadic rate like 0.1 maps to 104858/2^20, the
    closest representable keep rate. Python's ``round()`` breaks an
    exact .5 tie half-to-even (banker's rounding), not half-up as SQL
    ``round`` does — any external oracle must mirror that rule on the
    double product. Dyadic rates are exact either way."""
    thr = F.lit(int(round(default_rate * SAMPLE_DENOM)))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(
            F.col(stratum_col) == stratum,
            F.lit(int(round(rate * SAMPLE_DENOM))),
        ).otherwise(thr)
    h = sample_hash_expr(id_col)
    return docs.select(
        id_col, stratum_col, h.cast("long").alias("bucket")
    ).filter(F.col("bucket") < thr)


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction
# ---------------------------------------------------------------------------


def tfidf_topk(
    docs: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document top-``k`` salient tokens by a TF-IDF surrogate:
    score = floor(tf * 10^6 / df). The division is long/long → DOUBLE
    in both Spark and DuckDB, so the cross-engine oracle binds — the
    floor is bit-identical while tf·10^6 and df stay inside a double's
    53-bit integer range (df ≲ 1e7; beyond that the half-ulp at the
    quotient can flip the floor vs exact integer division — switch the
    scale factor down or use decimal arithmetic at web-corpus df). No
    logarithms, so there are no float-tie hazards in the tie order
    (score desc, token asc), which is total. Returns
    (id, tok, tf, df, score) for the k winners per doc.

    Scale shape: tf = (doc, tok)-keyed hash aggregate with map-side
    combine over the exploded token stream; df = a second tok-keyed
    aggregate over tf's OUTPUT (one row per (doc, tok), so count(*)
    IS the document frequency — the raw token stream is aggregated
    exactly once); the tf⋈df equi-join shuffles on tok (AQE may demote
    to broadcast when the vocab is small); the final top-k is a per-doc
    row_number window — shuffle on the id, bounded state per group."""
    from pyspark.sql import Window

    toks = docs.select(id_col, F.explode(_clean_tokens(text_col)).alias("tok"))
    tf = toks.groupBy(id_col, "tok").agg(F.count("*").cast("long").alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    scored = tf.join(dfreq, "tok").withColumn(
        "score", F.floor(F.col("tf") * 1000000 / F.col("df")).cast("long")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(id_col, "tok", "tf", "df", "score")
    )


# ---------------------------------------------------------------------------
# Per-domain caps + filter funnel report
# ---------------------------------------------------------------------------

#: broadcast the over-cap domain set only below this many rows — the
#: counted-gate discipline (BOILER_BROADCAST_MAX etc.); domains
#: exceeding a cap are normally a tiny head of the domain distribution.
OVERCAP_BROADCAST_MAX = 2_000_000


def cap_per_domain(
    docs: DataFrame,
    cap: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    broadcast_over: bool | None = None,
) -> DataFrame:
    """Per-domain document cap (anti-spam / diversity curation: no apex
    domain contributes more than ``cap`` pages). The kept subset per
    over-cap domain is the ``cap`` lowest (sample-hash, id) rows — a
    deterministic pseudo-random selection, stable across reruns and
    partitionings. Returns (id, domain) for every kept doc.

    Scale shape — two-path: a slim domain-count aggregate (map-side
    combine) finds the over-cap domains; under-cap docs PASS THROUGH via
    an anti-join against that (counted-gate broadcast) set — no window,
    no sort; only over-cap domains' rows (the skewed head, a tiny
    corpus fraction) enter the per-domain row_number window. A
    pathological mega-domain still sorts in one window partition — the
    refinement at that extreme is a salted two-phase per-domain top-k
    (partial top-cap per salt, re-rank winners), same shape as
    skew.salted_join."""
    from pyspark.sql import Window

    d = docs.select(
        id_col,
        apex_domain_expr(url_col).alias("domain"),
        sample_hash_expr(id_col).cast("long").alias("_h"),
    )
    over = (
        d.groupBy("domain")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > cap)
        .select("domain")
    )
    # The slim over-cap domain frame feeds TWO joins (anti + semi), so
    # it is persisted on BOTH paths — without it the explicit-flag path
    # recomputed the count aggregate once per join. The count right
    # after persist is the repo's eager-materialization rule (a LAZY
    # cache gets recomputed by every concurrent branch of the next
    # action — e.g. the two broadcast builds racing); on the gate path
    # it doubles as the gate input. The cache is tiny (over-cap domains
    # are the head of the distribution) but lives until the session
    # ends; long-lived sessions doing many capped corpora should
    # spark.catalog.clearCache() between runs.
    over = over.persist()
    n_over = over.count()
    if broadcast_over is None:
        broadcast_over = n_over <= OVERCAP_BROADCAST_MAX
    ob = F.broadcast(over) if broadcast_over else over
    under = d.join(ob, "domain", "left_anti").select(id_col, "domain")
    w = Window.partitionBy("domain").orderBy("_h", id_col)
    capped = (
        d.join(ob, "domain", "left_semi")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .select(id_col, "domain")
    )
    return under.unionByName(capped)


def filter_funnel(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    min_chars: int = 200,
    min_tokens: int = 40,
    langs: tuple[str, ...] = ("en", "de", "fr"),
) -> DataFrame:
    """Curation-funnel observability (the per-stage survivor counts
    every CCNet/Dolma-style pipeline reports): docs surviving each
    successive quality gate — length, token count, bigram repetition
    (distinct ≥ half of total, compared in exact integers — never a
    rounded ratio), language allowlist. Returns one row per stage:
    (stage_idx, stage, n_docs), n_docs cumulative.

    Scale shape: every gate is a pure codegen flag; the funnel is ONE
    global aggregate over the scan (conditional sums, map-side partial)
    unpivoted by a constant ``stack`` — a 100 TB funnel costs one pass
    and shuffles 5 numbers."""
    rc = repetition_counts(text_col, n=2)
    stages = [
        ("len_ok", F.length(text_col) >= min_chars),
        ("tok_ok", F.size(_clean_tokens(text_col)) >= min_tokens),
        ("rep_ok", rc["n_distinct_ngrams"] * 2 >= rc["n_ngrams"]),
        ("lang_ok", F.col(lang_col).isin(list(langs))),
    ]
    aggs = [F.count("*").cast("long").alias("s0")]
    cum = None
    for i, (_, cond) in enumerate(stages, 1):
        cum = cond if cum is None else (cum & cond)
        aggs.append(F.sum(F.when(cum, 1).otherwise(0)).cast("long").alias(f"s{i}"))
    one = docs.agg(*aggs)
    names = ["total"] + [n for n, _ in stages]
    args = ", ".join(f"{i}, '{n}', s{i}" for i, n in enumerate(names))
    return one.select(
        F.expr(f"stack({len(names)}, {args}) as (stage_idx, stage, n_docs)")
    )


def length_quantiles(
    docs: DataFrame,
    value_col: str = "n_chars",
    by: str = "lang",
    qs: tuple[float, ...] = (0.1, 0.5, 0.9),
) -> DataFrame:
    """Per-stratum exact (interpolated) quantiles of a numeric column —
    the threshold-selection view behind the curation gates (where should
    min_chars sit for each language?). Returns (by, n_docs, p10, p50,
    p90, …) with Spark's exact ``percentile`` aggregate, which computes
    the identical pos = q·(n−1) linear interpolation as DuckDB's
    ``quantile_cont`` (bit-equal on integer inputs — oracle-verified).

    Scale shape: ONE hash aggregate; exact percentile buffers the
    stratum's values, so this is for bounded-cardinality strata whose
    groups fit an executor (languages: dozens). For unbounded strata or
    trillion-row groups use ``approx_percentile`` (the approx_metrics
    operator) — same plan, sketch-sized state."""
    aggs = [F.count("*").cast("long").alias("n_docs")] + [
        F.percentile(value_col, F.lit(q)).alias(f"p{int(q * 100)}") for q in qs
    ]
    return docs.groupBy(by).agg(*aggs)
