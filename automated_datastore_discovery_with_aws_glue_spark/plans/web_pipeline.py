"""Web-ingest queries (r11 beyond-parity): URL canonicalization, exact
URL dedup + domain blocklist + per-domain caps, and encoding repair —
the stages a web-scale pretraining pipeline runs BEFORE the clean-text
corpus operators, over the driver testdata with DuckDB oracle twins.

The documents table has no URL column, so each query synthesizes a
deterministic messy URL (or corrupted text) around every document from
shared literal fragments — the exact pattern `corpus_html_extract`
uses for markup. Every regex, replacement pair, and rule is shared
verbatim (or generated from the same Python constant) between the
Spark expressions in ``operators/web.py`` / ``operators/text.py`` and
the SQL strings below.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from automated_datastore_discovery_with_aws_glue_spark.operators import text as TX
from automated_datastore_discovery_with_aws_glue_spark.operators import web as W
from automated_datastore_discovery_with_aws_glue_spark.operators.cache import own
from automated_datastore_discovery_with_aws_glue_spark.sources.readers import load_table

# -- shared synthetic-URL fixture -------------------------------------------
#
# domain id: skewed on purpose — domain0 takes ~56% of the corpus
# (doc_id % 16 in 0..8), domains 1-7 split the rest — so the per-domain
# cap's map-side WindowGroupLimit heap does real pruning at sf0.01:
# domain0 is trimmed to the cap, the tail domains pass through whole.
# path id:   doc_id % 200
# arm:       (doc_id div 25) % 10. Arms {0,2,4,5,6} are ONE canonical
#            .com URL wearing different disguises and arms {1,3} one
#            .co.uk URL; docs 400 apart share (domain, path) and land
#            6 arms apart, so at sf0.01 (doc_id 0..499) the in-window
#            dup groups pair arm 0 with arm 6 — the percent-encoded
#            path disguise '%70' against the gclid/ref/frag form, so
#            the r12 percent-normalization stays load-bearing for the
#            driver's hash compare, not just pytest. Arm 7 pins hex
#            UPPERCASING of kept reserved escapes ('%2f' -> '%2F');
#            arm 8 is an INVALID escape ('%zz') that must quarantine
#            to a NULL canonical URL and drop out of frontier dedup;
#            arm 9 (r13) is a raw-UTF-8 multi-byte path ('/€€/') whose
#            robots rules rank differently by octets than by
#            characters — the RFC-9309 octet-precedence pin.

_ARMS: tuple[tuple[str, str, str], ...] = (
    ("http://www.domain", ".com/%70/", ""),
    ("https://blog.domain", ".co.uk/q/", "?x=1&x=2&%66bclid=f"),
    ("http://www.domain", ".com/p/", ""),
    ("https://blog.domain", ".co.uk:443/q/", "?x=1&x=2&fbclid=f"),
    ("HTTP://Domain", ".COM:80/p/", "/"),
    ("http://domain", ".com/p/", "?utm_source=feed&utm_campaign=x"),
    ("http://www.domain", ".com:80/p/", "?gclid=g1&ref=tw#frag"),
    ("http://www.domain", ".com/p/", "?y=%2fv"),
    ("http://domain", ".com/p/", "?bad=%zz"),
    ("https://blog.domain", ".co.uk/€€/", ""),
)

#: registered domains removed before the cap (adult/spam blocklist shape)
_BLOCKLIST: tuple[str, ...] = ("domain3.com", "domain5.co.uk")

_DOMAIN_CAP = 40


def _raw_url() -> F.Column:
    did = F.col("doc_id")
    dom = (
        F.when(did % 16 < 9, F.lit(0)).otherwise(did % 16 - 8).cast("string")
    )
    g = (did % 200).cast("string")
    arm = F.expr(f"(doc_id div 25) % {len(_ARMS)}")
    chain = None
    for i, (pre, mid, suf) in enumerate(_ARMS):
        branch = F.concat(F.lit(pre), dom, F.lit(mid), g, F.lit(suf))
        chain = F.when(arm == i, branch) if chain is None else chain.when(arm == i, branch)
    return chain


def _sql_raw_url() -> str:
    arms = []
    for i, (pre, mid, suf) in enumerate(_ARMS):
        arms.append(
            f"WHEN {i} THEN '{pre}' || dom || '{mid}' || (doc_id % 200) || '{suf}'"
        )
    return (
        f"CASE (doc_id // 25) % {len(_ARMS)} " + " ".join(arms) + " END"
    )


_SQL_DOM = "CASE WHEN doc_id % 16 < 9 THEN 0 ELSE doc_id % 16 - 8 END"

_TRACK_RE_SQL = W.TRACKING_PARAM_RE
_URL_RE_SQL = W.URL_PARTS_RE


def _sql_pct_normalize(u: str) -> str:
    """DuckDB replay of ``operators/web.pct_normalize``: decode
    unreserved escapes, uppercase the rest, NULL on an invalid
    sequence, fast path when there is no '%' at all."""
    code = "CAST('0x' || substr(s, 1, 2) AS INT)"
    seg = (
        f"CASE WHEN ({code} BETWEEN 65 AND 90) OR ({code} BETWEEN 97 AND 122) "
        f"OR ({code} BETWEEN 48 AND 57) OR {code} IN (45, 46, 95, 126) "
        f"THEN chr({code}) ELSE '%' || upper(substr(s, 1, 2)) END || substr(s, 3)"
    )
    return (
        f"CASE WHEN NOT contains({u}, '%') THEN {u} "
        f"WHEN contains(regexp_replace({u}, '{W.PCT_ESCAPE_RE}', '', 'g'), '%') "
        f"THEN NULL "
        f"ELSE string_split({u}, '%')[1] || array_to_string("
        f"list_transform(string_split({u}, '%')[2:], s -> {seg}), '') END"
    )


#: DuckDB replay of the PSL longest-suffix join
#: (operators/web.registered_domain_join): rule lists, join keys, and
#: the depth/domain CASEs are ALL generated from the same
#: functions/psl.PUBLIC_SUFFIXES tuple through the same
#: psl_rule_tables parser the Spark operator uses — exact, wildcard
#: (`*.ck`), and exception (`!www.ck`) forms included.
def _psl_sql_parts() -> tuple[str, str, str]:
    from automated_datastore_discovery_with_aws_glue_spark.functions.psl import PUBLIC_SUFFIXES

    exact, wild, exc = W.psl_rule_tables(PUBLIC_SUFFIXES)

    def lastk(k: int) -> str:
        return f"array_to_string(string_split(hp, '.')[-{k}:], '.')"

    def lits(vals: list[str]) -> str:
        return ", ".join(f"'{v}'" for v in vals)

    ctes, joins = [], []
    for d, vals in sorted(exact.items()):
        ctes.append(f"psl_s{d} AS (SELECT unnest([{lits(vals)}]) AS s{d})")
        joins.append(f"LEFT JOIN psl_s{d} ON {lastk(d)} = s{d}")
    for d, vals in sorted(wild.items()):
        ctes.append(f"psl_w{d} AS (SELECT unnest([{lits(vals)}]) AS w{d})")
        joins.append(f"LEFT JOIN psl_w{d} ON {lastk(d - 1)} = w{d}")
    for d, vals in sorted(exc.items()):
        ctes.append(f"psl_e{d} AS (SELECT unnest([{lits(vals)}]) AS e{d})")
        joins.append(f"LEFT JOIN psl_e{d} ON {lastk(d)} = e{d}")
    nl = "len(string_split(hp, '.'))"
    arms = [f"WHEN e{d} IS NOT NULL THEN {d - 1}" for d in sorted(exc, reverse=True)]
    for d in sorted(set(exact) | set(wild), reverse=True):
        conds = []
        if d in exact:
            conds.append(f"s{d} IS NOT NULL")
        if d in wild:
            conds.append(f"(w{d} IS NOT NULL AND {nl} >= {d})")
        arms.append(f"WHEN {' OR '.join(conds)} THEN {d}")
    depth = "CASE " + " ".join(arms) + " ELSE 1 END"
    dvals = sorted(
        ({d - 1 for d in exc} | set(exact) | set(wild)) - {1}, reverse=True
    )
    dom_arms = "\n         ".join(
        f"WHEN ({depth}) = {v} THEN {lastk(v + 1)}" for v in dvals
    )
    domain = (
        f"CASE WHEN {nl} <= ({depth}) THEN hp\n"
        f"         {dom_arms}\n"
        f"         ELSE {lastk(2)} END"
    )
    return ",\n    ".join(ctes), "\n    ".join(joins), domain


_SQL_PSL_CTES, _SQL_PSL_JOIN, _SQL_PSL_DOMAIN = _psl_sql_parts()


def _sql_psl_ctes() -> str:
    return _SQL_PSL_CTES


def _sql_url_ctes() -> str:
    """CTE chain documents -> nn(doc_id, n_chars, url_norm, host,
    rpath, rtarget, domain): the SQL replay of pct_normalize +
    url_normalize over the DECODED url, the fetch-time host/path/target
    over the RAW url, and registered_domain_join (PSL longest-suffix)
    over the raw host — exactly the split the Spark operators make."""
    return f"""{_sql_psl_ctes()},
    u AS MATERIALIZED (
        SELECT doc_id, n_chars, {_sql_raw_url()} AS url
        FROM (SELECT doc_id, n_chars, {_SQL_DOM} AS dom FROM documents)
    ),
    updd AS (
        SELECT doc_id, n_chars, url, {_sql_pct_normalize("url")} AS urld FROM u
    ),
    px AS (
        SELECT doc_id, n_chars,
               lower(regexp_extract(urld, '{_URL_RE_SQL}', 1)) AS sch,
               regexp_replace(regexp_replace(
                   lower(regexp_extract(urld, '{_URL_RE_SQL}', 2)),
                   '^.*@', ''), '^www\\.', '') AS h0,
               regexp_replace(regexp_extract(urld, '{_URL_RE_SQL}', 3), '/+$', '') AS p0,
               coalesce(regexp_extract(urld, '{_URL_RE_SQL}', 4), '') AS q0,
               lower(regexp_extract(url, '{_URL_RE_SQL}', 1)) AS rsch,
               regexp_replace(regexp_replace(
                   lower(regexp_extract(url, '{_URL_RE_SQL}', 2)),
                   '^.*@', ''), '^www\\.', '') AS rh0,
               regexp_extract(url, '{_URL_RE_SQL}', 3) AS pr0,
               coalesce(regexp_extract(url, '{_URL_RE_SQL}', 4), '') AS rq0
        FROM updd
    ),
    nx AS (
        SELECT doc_id, n_chars, sch,
               CASE WHEN sch = 'http' AND ends_with(h0, ':80')
                         THEN substr(h0, 1, length(h0) - 3)
                    WHEN sch = 'https' AND ends_with(h0, ':443')
                         THEN substr(h0, 1, length(h0) - 4)
                    ELSE h0 END AS host_n,
               CASE WHEN p0 = '' THEN '/' ELSE p0 END AS path,
               CASE WHEN rsch = 'http' AND ends_with(rh0, ':80')
                         THEN substr(rh0, 1, length(rh0) - 3)
                    WHEN rsch = 'https' AND ends_with(rh0, ':443')
                         THEN substr(rh0, 1, length(rh0) - 4)
                    ELSE rh0 END AS host,
               CASE WHEN pr0 = '' THEN '/' ELSE pr0 END AS rpath,
               rq0,
               coalesce(array_to_string(list_filter(string_split(q0, '&'),
                   t -> t <> '' AND NOT regexp_matches(t, '{_TRACK_RE_SQL}')), '&'),
                   '') AS q
        FROM px
    ),
    nb AS (
        SELECT doc_id, n_chars,
               sch || '://' || host_n || path ||
               CASE WHEN q = '' THEN '' ELSE '?' || q END AS url_norm,
               host,
               regexp_replace(host, ':\\d+$', '') AS hp,
               rpath,
               CASE WHEN rq0 = '' THEN rpath
                    ELSE rpath || '?' || rq0 END AS rtarget
        FROM nx
    ),
    nn AS MATERIALIZED (
        SELECT doc_id, n_chars, url_norm, host, rpath, rtarget,
               coalesce({_sql_pct_normalize("rtarget")}, rtarget) AS rtargetd,
               {_SQL_PSL_DOMAIN} AS domain
        FROM nb
        {_SQL_PSL_JOIN}
    )"""


# ---------------------------------------------------------------------------
# corpus_url_normalize — canonical URL + exact-dup rank per document
# ---------------------------------------------------------------------------

def corpus_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (r11; r12 adds percent-normalization and
    the PSL-join domain): synthesize a messy URL per document (ten
    shared-literal arms — www, case + explicit default port, tracking
    params, fragment, an https subdomain on a two-part suffix, a
    percent-encoded path disguise '%70' of the plain URL, an
    escape-disguised tracker '%66bclid', a lowercase reserved escape
    '%2f' that must uppercase, an INVALID '%zz' that must quarantine
    to NULL, and a raw-UTF-8 multi-byte path '/€€/' for the robots
    octet-precedence pin), run ``operators/web.url_normalize`` (with
    ``pct_normalize`` inside) + ``registered_domain_join``, and rank
    exact duplicates on the canonical form — the percent-encoded
    disguises must land in the same dup group as their clean twins.
    Pure map-side expressions + two broadcast suffix joins + ONE
    shuffle on the canonical URL — a high-cardinality, skew-free key
    at any corpus size. DuckDB replays every regex, the decode pass,
    and the suffix join verbatim."""
    docs = load_table(spark, sf_dir, "documents")
    raw = _raw_url()
    base = docs.select(
        "doc_id",
        W.url_normalize(raw).alias("url_norm"),
        W.url_host(raw).alias("_host"),
    )
    base = W.registered_domain_join(base, "_host").drop("_host")
    return (
        base.withColumn(
            "dup_rank",
            F.row_number().over(Window.partitionBy("url_norm").orderBy("doc_id")),
        )
        .withColumn(
            "dup_count", F.count(F.lit(1)).over(Window.partitionBy("url_norm"))
        )
        .orderBy("doc_id")
    )


CORPUS_URL_NORMALIZE_SQL = (
    "WITH " + _sql_url_ctes() + """
    SELECT doc_id, url_norm, domain,
           CAST(row_number() OVER (PARTITION BY url_norm ORDER BY doc_id) AS INT)
               AS dup_rank,
           CAST(count(*) OVER (PARTITION BY url_norm) AS BIGINT) AS dup_count
    FROM nn
    ORDER BY doc_id"""
)


# ---------------------------------------------------------------------------
# corpus_domain_cap — URL dedup -> blocklist -> per-domain top-N
# ---------------------------------------------------------------------------

def corpus_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The domain-mix gate (r11): exact-dedup on the canonical URL
    (lowest doc wins), drop blocklisted registered domains, then keep at
    most 40 documents per domain, best-first by length then id
    (``operators/web.domain_cap`` — one ranked window whose
    WindowGroupLimit pushdown prunes each map task to the per-domain
    top-40 before the exchange; the skewed fixture sends ~56% of the
    corpus to domain0 so the partial heap does real work).
    Per-domain summary out; DuckDB replays dedup, blocklist, and cap
    with the same tiebreaks."""
    docs = load_table(spark, sf_dir, "documents")
    with_url = docs.select("doc_id", "n_chars", _raw_url().alias("url"))
    dd = W.registered_domain_join(
        W.url_dedup(with_url, "doc_id", "url"), W.url_host(F.col("url"))
    )
    kept = dd.filter(~F.col("domain").isin(*_BLOCKLIST))
    capped = W.domain_cap(
        kept, "domain", _DOMAIN_CAP, order=[F.col("n_chars").desc(), F.col("doc_id")]
    )
    pre = kept.groupBy("domain").agg(F.count(F.lit(1)).alias("n_unique"))
    post = capped.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
        F.min("doc_id").alias("first_doc"),
    )
    return pre.join(post, "domain").orderBy("domain")


CORPUS_DOMAIN_CAP_SQL = (
    "WITH " + _sql_url_ctes() + f""",
    dd AS MATERIALIZED (
        SELECT doc_id, n_chars, url_norm, domain FROM nn
        WHERE url_norm IS NOT NULL
        QUALIFY row_number() OVER (PARTITION BY url_norm ORDER BY doc_id) = 1
    ),
    kept AS MATERIALIZED (
        SELECT * FROM dd
        WHERE domain NOT IN ({", ".join(f"'{d}'" for d in _BLOCKLIST)})
    ),
    cap AS (
        SELECT * FROM kept
        QUALIFY row_number() OVER (PARTITION BY domain
                                   ORDER BY n_chars DESC, doc_id) <= {_DOMAIN_CAP}
    ),
    pre AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_unique FROM kept GROUP BY 1),
    post AS (
        SELECT domain, CAST(count(*) AS BIGINT) AS n_kept,
               CAST(sum(n_chars) AS BIGINT) AS kept_chars,
               min(doc_id) AS first_doc
        FROM cap GROUP BY 1
    )
    SELECT pre.domain, n_unique, n_kept, kept_chars, first_doc
    FROM pre JOIN post ON pre.domain = post.domain
    ORDER BY pre.domain"""
)


# ---------------------------------------------------------------------------
# corpus_fix_encoding — mojibake repair + control-char strip
# ---------------------------------------------------------------------------

#: cp1252-mojibake prefix injected by arm 0 (em-dash, curly quotes,
#: accented letters, ellipsis, NBSP artifact) — shared literal
_MOJI_PREFIX = "CafÃ© â€” â€œrÃ©sumÃ©â€\x9d â€™nâ€™ â€¦ Ã¼ber Ã§a Â\xa0 "


def _sql_quote(s: str) -> str:
    return s.replace("'", "''")


def _sql_fix_chain(src: str) -> tuple[str, str]:
    """(mojibake-repaired, fully-fixed) SQL expressions generated from
    the SAME :data:`operators.text.MOJIBAKE_PAIRS` constant the Spark
    chain uses — a drift in either table is impossible by construction."""
    moji = src
    for bad, good in TX.MOJIBAKE_PAIRS:
        moji = f"replace({moji}, '{_sql_quote(bad)}', '{_sql_quote(good)}')"
    no_ctrl = f"regexp_replace({moji}, '{TX.CONTROL_CHAR_RE}', ' ', 'g')"
    fixed = f"trim(regexp_replace({no_ctrl}, '\\s+', ' ', 'g'))"
    return moji, fixed


#: the corruption fixture's SQL twin — byte-identical literals to
#: :func:`_corrupted_text` (same _MOJI_PREFIX constant, same NBSP
#: artifact), shared by `corpus_fix_encoding` and `corpus_ingest_web`
#: the arm-1 NBSP artifact ("\xc2\xa0" double-decoded): A-circumflex + NBSP
_NBSP_ARTIFACT = "Â "

_SQL_CORRUPTED = (
    "CASE doc_id % 3 "
    f"WHEN 0 THEN '{_sql_quote(_MOJI_PREFIX)}' || text "
    "WHEN 1 THEN substr(text, 1, 40) || chr(7) || chr(27) "
    f"|| '{_sql_quote(_NBSP_ARTIFACT)}' || substr(text, 41) "
    "ELSE text END"
)


def _corrupted_text() -> F.Column:
    """The shared corruption fixture: arm 0 (doc_id % 3) prepends the
    cp1252 mojibake prefix, arm 1 splices C0 control bytes + an NBSP
    artifact mid-text, arm 2 passes the document through untouched."""
    arm = F.col("doc_id") % 3
    return (
        F.when(arm == 0, F.concat(F.lit(_MOJI_PREFIX), F.col("text")))
        .when(
            arm == 1,
            F.concat(
                F.expr("substring(text, 1, 40)"),
                F.expr("char(7)"),
                F.expr("char(27)"),
                F.lit(_NBSP_ARTIFACT),
                F.expr("substring(text, 41)"),
            ),
        )
        .otherwise(F.col("text"))
    )


def corpus_fix_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding repair (r11): corrupt each document deterministically
    (arm 0: cp1252 mojibake prefix; arm 1: C0 control bytes + NBSP
    artifact spliced mid-text; arm 2: untouched), run
    ``operators/text.fix_encoding`` — the ordered MOJIBAKE_PAIRS
    replace chain, control-char strip, whitespace collapse — and report
    per-document repair stats plus the md5 of the repaired text. Pure
    JVM replace/regexp projections, zero shuffles before the final
    sort; the DuckDB chain is GENERATED from the same pair table."""
    docs = load_table(spark, sf_dir, "documents")

    # corrupted -> moji -> fixed are each let-bound (operators/text.let):
    # the stats below reference them 2-3 times apiece, and naively each
    # reference re-inlines the whole 19-replace + 2-regexp chain — ~5x
    # the per-row string work (the url_normalize docstring's blowup)
    def stats(corrupted: F.Column) -> F.Column:
        def over_moji(moji: F.Column) -> F.Column:
            def over_fixed(fixed: F.Column) -> F.Column:
                return F.struct(
                    (fixed != corrupted).alias("changed"),
                    (
                        F.length(moji)
                        - F.length(F.regexp_replace(moji, TX.CONTROL_CHAR_RE, ""))
                    ).cast("int").alias("n_ctrl"),
                    F.length(corrupted).cast("int").alias("len_before"),
                    F.length(fixed).cast("int").alias("len_after"),
                    F.md5(fixed.cast("binary")).alias("fixed_fp"),
                )

            no_ctrl = F.regexp_replace(moji, TX.CONTROL_CHAR_RE, " ")
            return TX.let(
                F.trim(F.regexp_replace(no_ctrl, r"\s+", " ")), over_fixed
            )

        return TX.let(TX.fix_mojibake(corrupted), over_moji)

    return (
        docs.select("doc_id", TX.let(_corrupted_text(), stats).alias("s"))
        .select("doc_id", "s.*")
        .orderBy("doc_id")
    )


def _fix_encoding_sql() -> str:
    moji, fixed = _sql_fix_chain("corrupted")
    return f"""
    WITH c AS MATERIALIZED (
        SELECT doc_id, {_SQL_CORRUPTED} AS corrupted FROM documents
    ),
    fx AS (
        SELECT doc_id, corrupted, {fixed} AS fixed, {moji} AS moji FROM c
    )
    SELECT doc_id,
           fixed <> corrupted AS changed,
           CAST(length(moji) - length(regexp_replace(moji,
                '{TX.CONTROL_CHAR_RE}', '', 'g')) AS INT) AS n_ctrl,
           CAST(length(corrupted) AS INT) AS len_before,
           CAST(length(fixed) AS INT) AS len_after,
           md5(fixed) AS fixed_fp
    FROM fx
    ORDER BY doc_id"""


QUERIES = {
    "corpus_url_normalize": corpus_url_normalize,
    "corpus_domain_cap": corpus_domain_cap,
    "corpus_fix_encoding": corpus_fix_encoding,
}

ORACLES = {
    "corpus_url_normalize": CORPUS_URL_NORMALIZE_SQL,
    "corpus_domain_cap": CORPUS_DOMAIN_CAP_SQL,
    "corpus_fix_encoding": _fix_encoding_sql(),
}


# ---------------------------------------------------------------------------
# corpus_dedup_encoding — repair BEFORE hashing, or duplicates never merge
# ---------------------------------------------------------------------------

#: three corruption disguises of the SAME logical prefix: pure mojibake,
#: mojibake + spliced control bytes, mojibake with NBSP-artifact
#: spacing. fix_encoding maps all three to one repaired form.
_ENC_VARIANTS: tuple[str, ...] = (
    "CafÃ© â€” ",
    "CafÃ©\x07 â€”\x1b ",
    "CafÃ©Â\xa0â€”Â ",
)


def corpus_dedup_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-normalized dedup (r11): the reason ``fix_encoding`` runs
    BEFORE any fingerprinting — duplicates with different corruption
    fingerprints never merge. Each document fans out into three feed
    rows wearing a different disguise of the same prefix (mojibake /
    control bytes / NBSP artifacts); hashing the RAW text yields three
    distinct fingerprints per document, hashing the repaired text
    collapses them to one. Per repaired-fingerprint group: variant
    count, distinct raw-fingerprint count, representative feed id.
    The fan-out is an explode (map-side); ONE shuffle on the repaired
    fingerprint. DuckDB replays the corruption, the generated repair
    chain, and both hashes."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    feed = docs.select(
        "doc_id",
        "text",
        F.posexplode(F.array(*[F.lit(v) for v in _ENC_VARIANTS])).alias(
            "variant", "prefix"
        ),
    ).select(
        (F.col("doc_id") * 3 + F.col("variant")).alias("feed_id"),
        F.concat(F.col("prefix"), F.col("text")).alias("corrupted"),
    )
    return (
        feed.select(
            "feed_id",
            fingerprint(F.col("corrupted")).alias("fp_raw"),
            fingerprint(TX.fix_encoding(F.col("corrupted"))).alias("fp_fixed"),
        )
        .groupBy("fp_fixed")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.countDistinct("fp_raw").alias("n_raw_forms"),
            F.min("feed_id").alias("representative_id"),
        )
        .orderBy("representative_id")
    )


def _dedup_encoding_sql() -> str:
    _, fixed = _sql_fix_chain("corrupted")
    variants = ", ".join(f"'{_sql_quote(v)}'" for v in _ENC_VARIANTS)
    fp = "md5(trim(regexp_replace(lower({src}), '\\s+', ' ', 'g')))"
    return f"""
    WITH feed AS MATERIALIZED (
        SELECT doc_id * 3 + (t.i - 1) AS feed_id,
               ([{variants}])[t.i] || text AS corrupted
        FROM documents, unnest(generate_series(1, 3)) AS t(i)
    ),
    fps AS (
        SELECT feed_id,
               {fp.format(src="corrupted")} AS fp_raw,
               {fp.format(src=fixed)} AS fp_fixed
        FROM feed
    )
    SELECT fp_fixed,
           CAST(count(*) AS BIGINT) AS n_variants,
           CAST(count(DISTINCT fp_raw) AS BIGINT) AS n_raw_forms,
           min(feed_id) AS representative_id
    FROM fps
    GROUP BY fp_fixed
    ORDER BY representative_id"""


QUERIES["corpus_dedup_encoding"] = corpus_dedup_encoding
ORACLES["corpus_dedup_encoding"] = _dedup_encoding_sql()


# ---------------------------------------------------------------------------
# corpus_ingest_web — the composed web-ingest pipeline in ONE plan
# ---------------------------------------------------------------------------

_INGEST_MIN_TOKENS = 40


def corpus_ingest_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed web-ingest pipeline (r11): corrupt -> repair
    (``fix_encoding``) -> token-count quality gate -> URL
    canonicalization -> exact URL dedup -> domain blocklist ->
    per-domain cap -> per-domain corpus stats, all as ONE declarative
    plan (the `corpus_prepare` composition pattern for the web layer).
    Stage order matters and is part of the contract: repair runs BEFORE
    the gate (corruption inflates token counts), dedup runs AFTER the
    gate (a below-quality canonical copy must not shadow a passing
    one). Shuffles: one on the canonical URL (dedup), one on the domain
    (the cap window, WindowGroupLimit-pruned map-side), one for the
    final aggregate — everything upstream is map-side and evaluated
    ONCE (the former two-phase cap re-ran the whole repair+tokenize
    subtree once per count/under/over branch).
    Every stage's fragment is shared verbatim with the standalone
    queries' oracles."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        _raw_url().alias("url"),
        TX.token_count(TX.fix_encoding(_corrupted_text())).alias("n_tokens"),
    )
    quality = staged.filter(F.col("n_tokens") >= _INGEST_MIN_TOKENS)
    dd = W.registered_domain_join(
        W.url_dedup(quality, "doc_id", "url"), W.url_host(F.col("url"))
    )
    kept = dd.filter(~F.col("domain").isin(*_BLOCKLIST))
    capped = W.domain_cap(
        kept, "domain", _DOMAIN_CAP, order=[F.col("n_tokens").desc(), F.col("doc_id")]
    )
    return (
        capped.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("domain")
    )


def _ingest_web_sql() -> str:
    _, fixed = _sql_fix_chain("corrupted")
    norm = f"trim(regexp_replace(lower({fixed}), '\\s+', ' ', 'g'))"
    blocklist = ", ".join(f"'{d}'" for d in _BLOCKLIST)
    return (
        "WITH " + _sql_url_ctes() + f""",
    c AS MATERIALIZED (
        SELECT doc_id, {_SQL_CORRUPTED} AS corrupted FROM documents
    ),
    t AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN {norm} = '' THEN 0
                    ELSE len(string_split({norm}, ' ')) END AS n_tokens
        FROM c
    ),
    q AS (SELECT * FROM t WHERE n_tokens >= {_INGEST_MIN_TOKENS}),
    qq AS MATERIALIZED (
        SELECT q.doc_id, q.n_tokens, nn.url_norm, nn.domain
        FROM q JOIN nn ON q.doc_id = nn.doc_id
    ),
    dd AS (
        SELECT * FROM qq
        WHERE url_norm IS NOT NULL
        QUALIFY row_number() OVER (PARTITION BY url_norm ORDER BY doc_id) = 1
    ),
    kept AS (SELECT * FROM dd WHERE domain NOT IN ({blocklist})),
    cap AS (
        SELECT * FROM kept
        QUALIFY row_number() OVER (PARTITION BY domain
                                   ORDER BY n_tokens DESC, doc_id) <= {_DOMAIN_CAP}
    )
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(doc_id) AS first_doc
    FROM cap
    GROUP BY domain
    ORDER BY domain"""
    )


QUERIES["corpus_ingest_web"] = corpus_ingest_web
ORACLES["corpus_ingest_web"] = _ingest_web_sql()


# ---------------------------------------------------------------------------
# corpus_robots_filter — robots.txt parse + longest-match verdict
# ---------------------------------------------------------------------------

#: per-host robots.txt fixture arms (shared literals; chosen so every
#: parser rule does real work): full star group with overlapping
#: prefixes AND REP wildcards, an empty-Disallow allow-all, a deny-all,
#: a no-star-group file, and a consecutive-UA-lines group with a comment
_ROBOTS_COM_ARMS: tuple[str, ...] = (
    # overlapping prefixes + an equal-length allow/disallow pair on
    # /p/2 (the allow-wins-ties REP rule decides) + a DIRECTORY rule
    # (trailing slash — matches only the raw '/p/4/' form) + r12 REP
    # wildcards: a query rule ('/*?gclid=' out-lengths every prefix
    # rule on the gclid arm), an END-ANCHORED allow ('/p/13$' frees
    # exactly /p/13 — not /p/13/ and not /p/13?...), and a mid-path
    # any-span ('/p/9*9' takes /p/99 with or without a trailing slash)
    "User-agent: *\nDisallow: /p/1\nAllow: /p/12\nDisallow: /p/3\n"
    "Allow: /p/2\nDisallow: /p/2\nDisallow: /p/4/\n"
    "Disallow: /*?gclid=\nAllow: /p/13$\nDisallow: /p/9*9\n",
    "User-agent: bot\nDisallow: /\n\nUser-agent: *\nDisallow:\n",
    "User-agent: *\nDisallow: /\n",
    "User-agent: bot\nDisallow: /\n",
)
#: anchored-wildcard precedence ladder: '/q/1' (4, disallow) loses to
#: '/q/1*f$' (7, allow) which loses to '/q/11*f$' (8, disallow) —
#: three verdict classes across the /q/1xx pages, decided by rule
#: OCTET COUNT per RFC 9309, not by literal-prefix length. The r13
#: multi-byte pair targets the '/€€/' arm and makes octet-vs-char
#: ranking DIVERGE: 'Allow: /€€' is 3 chars / 7 octets while
#: 'Disallow: /€*1' is 4 chars / 6 octets, so on a '/€€/…1…' target
#: character ranking blocks and octet ranking (the spec) allows —
#: an engine that counts characters hash-mismatches the oracle.
_ROBOTS_UK = (
    "User-agent: googlebot\nUser-agent: *\n"
    "Disallow: /q/1\nAllow: /q/15\n# blanket comment\n"
    "Allow: /q/1*f$\nDisallow: /q/11*f$\n"
    "Allow: /€€\nDisallow: /€*1\n"
)


#: r12 directive block appended to every .com robots file: a
#: fractional Crawl-delay, an ON-HOST Sitemap (host spliced in), and
#: an off-host one with a lowercase directive name (case-insensitivity
#: pin). Appended at FILE END, so it lands in the LAST agent group —
#: the star group on arms 0-2, the bot-only group on arm 3, which is
#: exactly the group-scoping property robots_crawl_delay must honor
#: (arm-3 hosts get NO wildcard delay). Sitemap directives are
#: group-INDEPENDENT, so all .com hosts report both.
_ROBOTS_EXTRA_COM: tuple[str, str] = (
    "Crawl-delay: 1.5\nSitemap: http://",
    "/sitemap.xml\nsitemap: https://maps.example/idx.xml\n",
)
#: UK hosts: a whole-seconds delay, no sitemaps
_ROBOTS_EXTRA_UK = "crawl-delay: 2\n"


def _robots_text(host: F.Column) -> F.Column:
    d4 = F.regexp_extract(host, r"domain(\d+)", 1).cast("int") % 4
    com = (
        F.when(d4 == 0, F.lit(_ROBOTS_COM_ARMS[0]))
        .when(d4 == 1, F.lit(_ROBOTS_COM_ARMS[1]))
        .when(d4 == 2, F.lit(_ROBOTS_COM_ARMS[2]))
        .otherwise(F.lit(_ROBOTS_COM_ARMS[3]))
    )
    com = F.concat(
        com, F.lit(_ROBOTS_EXTRA_COM[0]), host, F.lit(_ROBOTS_EXTRA_COM[1])
    )
    return F.when(
        host.endswith(".co.uk"), F.lit(_ROBOTS_UK + _ROBOTS_EXTRA_UK)
    ).otherwise(com)


def corpus_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt gate (r11; r12 adds RFC-9309 path wildcards):
    synthesize a robots file per fixture host (overlapping
    Allow/Disallow prefixes, a '/*?gclid=' query wildcard, a '/p/13$'
    end anchor, a '/p/9*9' mid-path any-span, an anchored-wildcard
    precedence ladder on the UK hosts, empty-Disallow allow-all,
    deny-all, no-star-group, consecutive-UA-lines group with comments),
    parse with ``operators/web.robots_rules``, and decide every page
    with ``robots_filter`` against the raw path-and-query target,
    matched in PERCENT-NORMALIZED space (the '%70'-path fixture arm
    must hit the '/p/' rules; reserved escapes stay escapes) — most
    rule octets win, allow wins ties, no match allows. The rule table
    is per-host and tiny, so the verdict is ONE broadcast join + one
    aggregate over pages — no page-scale window, the 100 TB shape.
    DuckDB replays the line split, grouping windows, star-group
    selection, the decode pass, the rule-to-regex compile, and
    precedence."""
    docs = load_table(spark, sf_dir, "documents")
    raw = _raw_url()
    # robots decisions happen at FETCH time, before canonicalization —
    # the raw target keeps trailing slashes and the query as written
    pages = docs.select(
        "doc_id",
        W.url_host(raw).alias("host"),
        W.url_raw_target(raw).alias("target"),
    )
    robots = pages.select("host").distinct().withColumn(
        "robots", _robots_text(F.col("host"))
    )
    rules = W.robots_rules(robots, "host", "robots")
    out = W.robots_filter(pages, rules, id_col="doc_id", path_col="target")
    return out.select(
        "doc_id", "host", "target", "allowed", "matched_prefix"
    ).orderBy("doc_id")


def _sql_quote_nl(s: str) -> str:
    return s.replace("'", "''").replace("\n", "' || chr(10) || '")


def _sql_robots_group_ctes() -> str:
    """The shared robots CTE chain rb -> rt -> lx -> mk -> pk -> gr ->
    sg (fixture text incl. the r12 directive extras, line split,
    comment strip, UA grouping windows, star-group selection) — used
    by both the filter twin and the directives twin."""
    q = _sql_quote_nl
    arms = " ".join(
        f"WHEN {i} THEN '{q(a)}'" for i, a in enumerate(_ROBOTS_COM_ARMS[:3])
    )
    ua_re = r"(?i)^user-agent\s*:"
    return f"""rb AS (SELECT DISTINCT host FROM nn),
    rt AS MATERIALIZED (
        SELECT host,
               CASE WHEN host LIKE '%.co.uk' THEN '{q(_ROBOTS_UK + _ROBOTS_EXTRA_UK)}'
                    ELSE (CASE (TRY_CAST(regexp_extract(host, 'domain(\\d+)', 1) AS INT) % 4)
                         {arms}
                         ELSE '{q(_ROBOTS_COM_ARMS[3])}' END)
                         || '{q(_ROBOTS_EXTRA_COM[0])}' || host
                         || '{q(_ROBOTS_EXTRA_COM[1])}'
               END AS robots
        FROM rb
    ),
    lx AS (
        SELECT host, t.i AS i,
               trim(regexp_replace(string_split(robots, chr(10))[t.i], '#.*$', '')) AS ln
        FROM rt, unnest(generate_series(1, len(string_split(robots, chr(10))))) AS t(i)
    ),
    mk AS (
        SELECT host, i, ln, regexp_matches(ln, '{ua_re}') AS ua
        FROM lx WHERE ln <> ''
    ),
    pk AS (
        SELECT *,
               coalesce(lag(ua) OVER (PARTITION BY host ORDER BY i), FALSE)
                   AS prev_ua
        FROM mk
    ),
    gr AS (
        SELECT *,
               SUM(CASE WHEN ua AND NOT prev_ua THEN 1 ELSE 0 END)
                   OVER (PARTITION BY host ORDER BY i) AS grp
        FROM pk
    ),
    sg AS (
        SELECT host, grp FROM gr WHERE ua GROUP BY host, grp
        HAVING max(CASE WHEN trim(regexp_extract(ln, '{ua_re}(.*)$', 1)) = '*'
                        THEN 1 ELSE 0 END) = 1
    )"""


def _robots_filter_sql() -> str:
    dir_re = r"(?i)^(allow|disallow)\s*:(.*)$"
    return (
        "WITH " + _sql_url_ctes() + ",\n    " + _sql_robots_group_ctes() + f""",
    rl AS (
        SELECT g.host,
               lower(regexp_extract(ln, '{dir_re}', 1)) AS rule,
               trim(regexp_extract(ln, '{dir_re}', 2)) AS prefix
        FROM gr g JOIN sg USING (host, grp)
        WHERE NOT ua AND regexp_matches(ln, '{dir_re}')
    ),
    rl1 AS (
        SELECT *, coalesce({_sql_pct_normalize("prefix")}, prefix) AS pfxd
        FROM rl WHERE prefix <> ''
    ),
    rl2 AS (
        SELECT *,
               (contains(prefix, '*') OR ends_with(prefix, '$')) AS wild,
               '^' || regexp_replace(regexp_replace(regexp_replace(pfxd,
                   '{W.REP_SPECIALS_CLASS}', '\\\\\\1', 'g'),
                   '\\*', '.*', 'g'),
                   '\\\\\\$$', '$') AS pat
        FROM rl1
    ),
    mt AS (
        SELECT p.doc_id, r.rule, r.prefix
        FROM nn p JOIN rl2 r ON p.host = r.host AND
             (CASE WHEN r.wild THEN regexp_matches(p.rtargetd, r.pat)
                   ELSE starts_with(p.rtargetd, r.pfxd) END)
    ),
    bst AS (
        SELECT doc_id, rule, prefix FROM mt
        QUALIFY row_number() OVER (PARTITION BY doc_id
            ORDER BY strlen(prefix) DESC, (rule = 'allow') DESC, prefix DESC) = 1
    )
    SELECT n.doc_id, n.host, n.rtarget AS target,
           coalesce(b.rule = 'allow', TRUE) AS allowed,
           b.prefix AS matched_prefix
    FROM nn n LEFT JOIN bst b USING (doc_id)
    ORDER BY n.doc_id"""
    )


QUERIES["corpus_robots_filter"] = corpus_robots_filter
ORACLES["corpus_robots_filter"] = _robots_filter_sql()


# ---------------------------------------------------------------------------
# corpus_sitemap_discovery — sitemap <loc> extraction -> frontier delta
# ---------------------------------------------------------------------------

#: sitemap.xml fixture fragments (host spliced in twice): whitespace
#: inside <loc>, an XML-escaped &amp; in a query URL, a www. variant
#: that must normalize onto the host, an OFF-host loc, an UPPERCASE
#: <LOC>, and an explicit :443 on https
_SM_COM: tuple[str, str, str] = (
    '<?xml version="1.0"?>\n<urlset>\n  <url><loc> http://',
    "/p/7?a=1&amp;b=2 </loc><lastmod>2024-01-01</lastmod></url>\n"
    "  <url><loc>http://www.",
    "/p/0</loc></url>\n"
    "  <url><loc>https://evil.example/offsite</loc></url>\n</urlset>",
)
_SM_UK: tuple[str, str, str] = (
    "<urlset><url><loc>https://",
    "/q/3?x=1&amp;utm_source=s</loc></url><url><LOC>https://",
    ":443/q/150</LOC></url></urlset>",
)

#: sitemap-INDEX fixture (r13, host spliced twice): its locs are CHILD
#: SITEMAPS to fetch — one plain child, one whitespace-padded www.
#: variant pointing at a GZIPPED child (.xml.gz, the common real-world
#: form; the byte path is pinned by the gunzip_text pytest) — and must
#: NOT be classified as page URLs
_SM_IDX: tuple[str, str, str] = (
    '<?xml version="1.0"?>\n<sitemapindex>\n  <sitemap><loc>https://',
    "/maps/a.xml</loc><lastmod>2024-02-02</lastmod></sitemap>\n"
    "  <sitemap><loc> http://www.",
    "/maps/b.xml.gz </loc></sitemap>\n</sitemapindex>",
)


def _sitemap_text(host: F.Column) -> F.Column:
    com = F.concat(
        F.lit(_SM_COM[0]), host, F.lit(_SM_COM[1]), host, F.lit(_SM_COM[2])
    )
    uk = F.concat(
        F.lit(_SM_UK[0]), host, F.lit(_SM_UK[1]), host, F.lit(_SM_UK[2])
    )
    return F.when(host.endswith(".co.uk"), uk).otherwise(com)


def _sitemap_index_text(host: F.Column) -> F.Column:
    return F.concat(
        F.lit(_SM_IDX[0]), host, F.lit(_SM_IDX[1]), host, F.lit(_SM_IDX[2])
    )


def corpus_sitemap_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-driven frontier discovery (r11; r13 adds the
    sitemap-INDEX shape): each fixture host serves TWO files — a
    ``<urlset>`` (whitespace-padded / XML-escaped / www-variant /
    off-host / UPPERCASE-tag / explicit-:443 locs) and a
    ``<sitemapindex>`` whose locs are CHILD SITEMAPS (one of them
    gzipped ``.xml.gz``). ``operators/web.sitemap_kind`` routes each
    file: urlset locs are canonicalized and classified against the
    already-crawled canonical set (on-host / known / NEW — the next
    crawl wave) while index locs become the child-sitemap fetch queue
    (``n_children`` + the first child in document order) — NEVER page
    URLs. Rule-of-scale: sitemaps are per-host metadata (tiny); the
    only data-scale touch is the semi-join against the crawled set on
    the canonical URL — high-cardinality, skew-free. DuckDB replays
    the loc regex, the root-element sniff, the XML unescape,
    normalization, and both classifications."""
    docs = load_table(spark, sf_dir, "documents")
    raw = _raw_url()
    crawled = docs.select(W.url_normalize(raw).alias("url_norm")).distinct()
    hosts = docs.select(W.url_host(raw).alias("host")).distinct()
    files = hosts.select(
        "host",
        F.explode(
            F.array(_sitemap_text(F.col("host")), _sitemap_index_text(F.col("host")))
        ).alias("sitemap"),
    )
    locs = files.select(
        "host",
        W.sitemap_kind(F.col("sitemap")).alias("kind"),
        F.posexplode(W.sitemap_locs(F.col("sitemap"))).alias("loc_idx", "loc"),
    )
    x = locs.filter(F.col("kind") == "urlset").select(
        "host",
        W.url_normalize(F.col("loc")).alias("url_norm"),
        (W.url_host(F.col("loc")) == F.col("host")).alias("on_host"),
    )
    marked = x.join(
        crawled.withColumn("_k", F.lit(1)), "url_norm", "left"
    ).withColumn("known", F.col("_k").isNotNull() & F.col("on_host"))
    new_cond = F.col("on_host") & ~F.col("known") & F.col("url_norm").isNotNull()
    pages = marked.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_locs"),
        F.sum(F.col("on_host").cast("bigint")).alias("n_onhost"),
        F.sum(F.col("known").cast("bigint")).alias("n_known"),
        F.sum(new_cond.cast("bigint")).alias("n_new"),
        F.min(F.when(new_cond, F.col("url_norm"))).alias("first_new"),
    )
    children = (
        locs.filter(F.col("kind") == "index")
        .select("host", "loc_idx", W.url_normalize(F.col("loc")).alias("child"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_children"),
            # skip NULL (quarantined) children like DuckDB's arg_min
            # does, or a first-in-document-order unparseable loc would
            # diverge between the engines
            F.min(
                F.when(F.col("child").isNotNull(), F.struct("loc_idx", "child"))
            ).alias("_fc"),
        )
        .select("host", "n_children", F.col("_fc.child").alias("first_child"))
    )
    return pages.join(children, "host").orderBy("host")


def _sql_url_host_expr(u: str) -> str:
    sch = f"lower(regexp_extract({u}, '{_URL_RE_SQL}', 1))"
    h0 = (
        f"regexp_replace(regexp_replace(lower(regexp_extract({u}, "
        f"'{_URL_RE_SQL}', 2)), '^.*@', ''), '^www\\.', '')"
    )
    return (
        f"CASE WHEN {sch} = 'http' AND ends_with({h0}, ':80') "
        f"THEN substr({h0}, 1, length({h0}) - 3) "
        f"WHEN {sch} = 'https' AND ends_with({h0}, ':443') "
        f"THEN substr({h0}, 1, length({h0}) - 4) ELSE {h0} END"
    )


def _sql_url_norm_core(u: str) -> str:
    """url_normalize's post-decode core over an ALREADY pct-normalized
    expression ``u`` (NULL propagates through the parse gate, so an
    invalid-escape NULL stays NULL)."""
    sch = f"lower(regexp_extract({u}, '{_URL_RE_SQL}', 1))"
    host = _sql_url_host_expr(u)
    p0 = f"regexp_replace(regexp_extract({u}, '{_URL_RE_SQL}', 3), '/+$', '')"
    path = f"CASE WHEN {p0} = '' THEN '/' ELSE {p0} END"
    q0 = f"coalesce(regexp_extract({u}, '{_URL_RE_SQL}', 4), '')"
    qq = (
        f"coalesce(array_to_string(list_filter(string_split({q0}, '&'), "
        f"t -> t <> '' AND NOT regexp_matches(t, '{_TRACK_RE_SQL}')), '&'), '')"
    )
    return (
        f"CASE WHEN regexp_matches({u}, '{_URL_RE_SQL}') THEN "
        f"{sch} || '://' || {host} || {path} || "
        f"CASE WHEN {qq} = '' THEN '' ELSE '?' || {qq} END END"
    )


def _sitemap_discovery_sql() -> str:
    def q(s: str) -> str:
        return s.replace("'", "''").replace("\n", "' || chr(10) || '")

    com = f"'{q(_SM_COM[0])}' || host || '{q(_SM_COM[1])}' || host || '{q(_SM_COM[2])}'"
    uk = f"'{q(_SM_UK[0])}' || host || '{q(_SM_UK[1])}' || host || '{q(_SM_UK[2])}'"
    idx = f"'{q(_SM_IDX[0])}' || host || '{q(_SM_IDX[1])}' || host || '{q(_SM_IDX[2])}'"
    unesc = "loc0"
    for ent, ch in W.XML_URL_ENTITIES:
        unesc = f"replace({unesc}, '{ent}', '{q(ch)}')"
    unesc = f"regexp_replace({unesc}, '&(?:amp|#38);', '&', 'g')"
    loc_re = W.SITEMAP_LOC_RE
    return (
        "WITH " + _sql_url_ctes() + f""",
    hs AS (SELECT DISTINCT host FROM nn),
    crawled AS MATERIALIZED (SELECT DISTINCT url_norm FROM nn),
    sm AS (
        SELECT host,
               CASE WHEN host LIKE '%.co.uk' THEN {uk} ELSE {com} END AS sitemap
        FROM hs
        UNION ALL
        SELECT host, {idx} AS sitemap FROM hs
    ),
    lr AS (
        SELECT host,
               regexp_matches(sitemap, '{W.SITEMAP_INDEX_RE}') AS is_idx,
               regexp_extract_all(sitemap, '{loc_re}', 1) AS locs
        FROM sm
    ),
    lx AS (
        SELECT host, is_idx, t.i AS loc_idx, locs[t.i] AS loc0
        FROM lr, unnest(generate_series(1, len(locs))) AS t(i)
    ),
    ux AS (SELECT host, is_idx, loc_idx, {unesc} AS loc FROM lx),
    uxd AS (
        SELECT host, is_idx, loc_idx, loc,
               {_sql_pct_normalize("loc")} AS locd
        FROM ux
    ),
    xx AS MATERIALIZED (
        SELECT host, {_sql_url_norm_core("locd")} AS url_norm,
               {_sql_url_host_expr("loc")} = host AS on_host
        FROM uxd WHERE NOT is_idx
    ),
    mk AS (
        SELECT x.host, x.url_norm, x.on_host,
               (c.url_norm IS NOT NULL AND x.on_host) AS known
        FROM xx x LEFT JOIN crawled c ON x.url_norm = c.url_norm
    ),
    pg AS (
        SELECT host,
               CAST(count(*) AS BIGINT) AS n_locs,
               CAST(sum(CASE WHEN on_host THEN 1 ELSE 0 END) AS BIGINT) AS n_onhost,
               CAST(sum(CASE WHEN known THEN 1 ELSE 0 END) AS BIGINT) AS n_known,
               CAST(sum(CASE WHEN on_host AND NOT known AND url_norm IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
               min(CASE WHEN on_host AND NOT known AND url_norm IS NOT NULL
                        THEN url_norm END) AS first_new
        FROM mk
        GROUP BY host
    ),
    ch AS (
        SELECT host,
               CAST(count(*) AS BIGINT) AS n_children,
               arg_min({_sql_url_norm_core("locd")}, loc_idx) AS first_child
        FROM uxd WHERE is_idx
        GROUP BY host
    )
    SELECT pg.host, n_locs, n_onhost, n_known, n_new, first_new,
           n_children, first_child
    FROM pg JOIN ch ON pg.host = ch.host
    ORDER BY pg.host"""
    )


QUERIES["corpus_sitemap_discovery"] = corpus_sitemap_discovery
ORACLES["corpus_sitemap_discovery"] = _sitemap_discovery_sql()


# ---------------------------------------------------------------------------
# corpus_psl_domains — PSL longest-suffix registrable domains (r12)
# ---------------------------------------------------------------------------

#: host templates exercising every registered_domain_join branch:
#: 2-label ccTLD suffixes (com.ar, co.za), a private suffix
#: (github.io, blogspot.com), a 3-label suffix (k12.ca.us), a deep
#: subdomain, a bare label, the single-label-TLD default, an explicit
#: port, a BARE suffix with no registrable part, and (r12) the
#: registry's WILDCARD and EXCEPTION forms: `*.ck` hosts at every
#: depth (bare wildcard suffix / registrable / subdomain), the
#: `!www.ck` carve-out with and without a subdomain, and the 3-label
#: wildcard `*.sch.uk`. '{n}' is the per-document salt (doc_id % 7)
#: so domains repeat across docs.
_PSL_HOSTS: tuple[str, ...] = (
    "a{n}.example{n}.com.ar",
    "shop{n}.co.za",
    "x.y.proj{n}.github.io",
    "deep.blog.example{n}.co.uk",
    "host{n}",
    "example{n}.com",
    "sub.example{n}.org:8443",
    "school{n}.k12.ca.us",
    "cdn.files{n}.blogspot.com",
    "k12.ca.us",
    "x{n}.ck",
    "a.x{n}.ck",
    "www.ck",
    "media.www.ck",
    "pupils.x{n}.sch.uk",
)


def _psl_host() -> F.Column:
    n = (F.col("doc_id") % 7).cast("string")
    arm = F.col("doc_id") % len(_PSL_HOSTS)
    chain = None
    for i, tpl in enumerate(_PSL_HOSTS):
        parts = tpl.split("{n}")
        pieces: list[F.Column] = []
        for j, p in enumerate(parts):
            if j:
                pieces.append(n)
            if p:
                pieces.append(F.lit(p))
        branch = F.concat(*pieces)
        chain = F.when(arm == i, branch) if chain is None else chain.when(arm == i, branch)
    return chain


def _sql_psl_host() -> str:
    arms = []
    for i, tpl in enumerate(_PSL_HOSTS):
        parts = tpl.split("{n}")
        pieces = []
        for j, p in enumerate(parts):
            if j:
                pieces.append("(doc_id % 7)")
            if p:
                pieces.append(f"'{p}'")
        arms.append(f"WHEN {i} THEN " + " || ".join(pieces))
    return f"CASE (doc_id % {len(_PSL_HOSTS)}) " + " ".join(arms) + " END"


def corpus_psl_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain extraction against the bundled public-suffix
    table (r12): synthesize a host per document from ten templates
    (2-label and 3-label suffixes, private hosting suffixes, deep
    subdomains, a bare label, an explicit port, a bare suffix with no
    registrable part) and key each with
    ``operators/web.registered_domain_join`` — the longest-suffix
    broadcast join that replaces the embedded two-part list for real
    corpora. Plan: map-side synthesis + two broadcast hash joins
    (one per suffix depth), zero shuffles before the final sort.
    DuckDB replays the suffix lists (generated from the SAME
    functions/psl.PUBLIC_SUFFIXES tuple) and the longest-match rule."""
    docs = load_table(spark, sf_dir, "documents")
    hosts = docs.select("doc_id", _psl_host().alias("host"))
    return W.registered_domain_join(hosts, "host").orderBy("doc_id")


def _psl_domains_sql() -> str:
    return f"""
    WITH {_sql_psl_ctes()},
    h AS (SELECT doc_id, {_sql_psl_host()} AS host FROM documents),
    hx AS (
        SELECT doc_id, host,
               regexp_replace(host, ':\\d+$', '') AS hp
        FROM h
    )
    SELECT doc_id, host, {_SQL_PSL_DOMAIN} AS domain
    FROM hx
    {_SQL_PSL_JOIN}
    ORDER BY doc_id"""


QUERIES["corpus_psl_domains"] = corpus_psl_domains
ORACLES["corpus_psl_domains"] = _psl_domains_sql()


# ---------------------------------------------------------------------------
# src_warc_extract — WARC-shape container roundtrip -> clean text (r12)
# ---------------------------------------------------------------------------

#: multi-byte salt inside every WARC payload: forces Content-Length
#: (BYTES) != len(payload) (CHARS), so the oracle catches a parser that
#: counts characters — ONE Python constant feeds both engines (the
#: non-ASCII-literal discipline fix_encoding documents)
_WARC_SALT = "Café—漢字 "

_WARC_CONTAINERS = 20


def src_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-container ingest (r12, VERDICT r11 item 4): wrap every
    document in the shared synthetic HTML page (salted with multi-byte
    text), frame each page as a WARC record (version line, headers,
    Content-Length in BYTES, CRLF terminator), concatenate 1/20th of
    the corpus per container IN doc_id ORDER, then scan the containers
    back with ``sources/warc.warc_records`` (offset arithmetic driven
    by Content-Length — mapInPandas, the one honest use of the Python
    slow path) and feed each recovered payload through
    ``operators/text.html_extract``. The roundtrip is the check: a
    parser that mis-slices a single byte shifts every later record and
    breaks the per-document fingerprints. DuckDB computes the expected
    records directly from the documents table (same shared literals)
    and replays the html chain."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.text import html_extract
    from automated_datastore_discovery_with_aws_glue_spark.plans.llm_pipeline import (
        _HTML_WRAP_A,
        _HTML_WRAP_B,
        _HTML_WRAP_C,
        _HTML_WRAP_D,
    )
    from automated_datastore_discovery_with_aws_glue_spark.sources.warc import warc_records

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    page = F.concat(
        F.lit(_HTML_WRAP_A), did, F.lit(_HTML_WRAP_B), did,
        F.lit(_HTML_WRAP_C), F.lit(_WARC_SALT), F.col("text"),
        F.lit(_HTML_WRAP_D),
    )

    def rec_over(p: F.Column) -> F.Column:
        return F.concat(
            F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: urn:doc:"),
            did,
            F.lit("\r\nContent-Length: "),
            F.octet_length(p).cast("string"),
            F.lit("\r\n\r\n"),
            p,
            F.lit("\r\n\r\n"),
        )

    # FIXTURE-ONLY pattern: collect_list assembles 1/20th of the corpus
    # into one container string — bounded here because the fixture is
    # sf-scaled and the oracle needs byte-exact containers to replay.
    # NEVER lift this into production code: the real ingest path reads
    # file-per-container (`warc_records` over binary container FILES),
    # where no row ever holds more than one record.
    per = docs.select(
        (F.col("doc_id") % _WARC_CONTAINERS).alias("cid"),
        "doc_id",
        TX.let(page, rec_over).alias("rec"),
    )
    containers = per.groupBy("cid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "rec"))),
                lambda s: s["rec"],
            ),
            "",
        ).alias("container")
    )
    recs = warc_records(
        containers.select("cid", F.encode("container", "utf-8").alias("wdata")),
        "wdata",
    )
    x = recs.select(
        F.regexp_extract("target_uri", r"urn:doc:(\d+)", 1)
        .cast("bigint")
        .alias("doc_id"),
        "rec_idx",
        "warc_type",
        "content_length",
        html_extract(F.col("payload")).alias("_x"),
        "valid",
    )
    return x.select(
        "doc_id",
        "rec_idx",
        "warc_type",
        "content_length",
        F.when(F.col("_x") == "", F.lit(0))
        .otherwise(F.size(F.split(F.col("_x"), r"\s+")))
        .cast("int")
        .alias("n_words"),
        F.md5(F.col("_x").cast("binary")).alias("extracted_fp"),
        "valid",
    ).orderBy("doc_id")


def _warc_extract_sql() -> str:
    from automated_datastore_discovery_with_aws_glue_spark.plans.llm_pipeline import (
        html_sql_chain,
        html_sql_wrap_expr,
    )

    wrap = html_sql_wrap_expr(extra_salt=_WARC_SALT)
    return (
        f"""
    WITH p AS MATERIALIZED (
        SELECT doc_id, doc_id % {_WARC_CONTAINERS} AS cid, {wrap} AS page
        FROM documents
    ),
    r AS MATERIALIZED (
        SELECT doc_id, cid,
               CAST(strlen(page) AS BIGINT) AS content_length,
               CAST(row_number() OVER (PARTITION BY cid ORDER BY doc_id)
                    AS INT) - 1 AS rec_idx
        FROM p
    ),
    """
        + html_sql_chain(wrap)
        + """
    SELECT r.doc_id, r.rec_idx, 'response' AS warc_type, r.content_length,
           CAST(CASE WHEN coalesce(a.extracted, '') = '' THEN 0
                     ELSE len(regexp_split_to_array(a.extracted, '\\s+'))
                END AS INT) AS n_words,
           md5(coalesce(a.extracted, '')) AS extracted_fp,
           TRUE AS valid
    FROM r LEFT JOIN agg a USING (doc_id)
    ORDER BY r.doc_id"""
    )


QUERIES["src_warc_extract"] = src_warc_extract
ORACLES["src_warc_extract"] = _warc_extract_sql()


# ---------------------------------------------------------------------------
# src_warc_http — HTTP envelopes inside WARC response payloads (r13)
# ---------------------------------------------------------------------------
#
# Real `WARC-Type: response` records carry a full HTTP response message
# as the payload; a reader that feeds the raw payload to text
# extraction pollutes the corpus with status lines and ingests 404/301
# bodies as content. Ten arms (doc_id % 10), each pinning one branch
# of sources/warc.parse_http_response:
#   0: 200, charset=utf-8 header, multi-byte salt (bytes != chars)
#   1: 200, mixed-case 'Text/HTML; charset=ISO-8859-1', latin-1 body
#   2: 200, QUOTED 'charset="Windows-1252"', a raw 0x80 euro byte
#   3: 200, NO charset param, utf-8 BOM -> BOM sniff (BOM consumed)
#   4: 200, NO Content-Type at all, cp1252 bytes -> browser default
#   5: 404 -> must be gated OUT of ingest (error-page body)
#   6: 301 -> gated OUT (redirect body; Location is scheduler data)
#   7: 200, Transfer-Encoding: chunked (two chunks, ASCII body so
#      string slicing is byte-exact) -> de-chunked before decode
#   8: 200, image/png with raw high bytes -> BINARY: payload WITHHELD
#      from the text lane (decoding it under cp1252 would "succeed"
#      and mint mojibake corpus text)
#   9: 200, text/html with NO charset param and NO BOM but an HTML
#      <meta charset="UTF-8"> in the prescan window -> the meta sniff
#      must drive the decode (the multi-byte salt would mojibake under
#      the cp1252 default, so the fingerprint pins the branch)

#: latin-1-encodable salt (é = 0xE9, ± = 0xB1): chars == bytes
_HTTP_SALT_L1 = "Café résumé ± "
#: cp1252 splice: PRE + the raw byte 0x80 + POST decode to PRE€POST
_HTTP_CP_PRE = "Café "
_HTTP_CP_POST = "uro "
_HTTP_CP_DECODED = _HTTP_CP_PRE + "€" + _HTTP_CP_POST
#: ASCII-only salt for the chunked arm — the fixture slices the page
#: STRING at char 16 to build two chunks, which is only byte-exact
#: when every char is one byte
_HTTP_SALT_CHUNK = "chunked transfer arm "
#: first-chunk size (bytes == chars on the ASCII arm), hex "10"
_HTTP_CHUNK1 = 16

_HTTP_404_BODY = "<html><body><p>Not Found error page body text</p></body></html>"
_HTTP_301_BODY = "<html><body><p>Moved permanently stub body</p></body></html>"
#: PNG-ish binary body: magic + high bytes that cp1252 would happily
#: mis-decode if the mime gate ever regressed
_HTTP_PNG_BODY = b"\x89PNG\r\n\x1a\n" + bytes(range(0xA0, 0xC0)) * 4
#: markup-level charset declaration (UPPERCASE label + quotes pin the
#: case-insensitive attribute parse) prepended to the arm-9 page; the
#: html chain strips it to an empty block, so extraction is unchanged
_HTTP_META_TAG = '<meta charset="UTF-8">' 

#: per-arm HTTP head (status line + headers + blank line) — pure-ASCII
#: Python constants, so their BYTE length is len() at SQL-gen time
_HTTP_HEADS: tuple[str, ...] = (
    "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n",
    "HTTP/1.1 200 OK\r\nContent-Type: Text/HTML; charset=ISO-8859-1\r\n\r\n",
    'HTTP/1.1 200 OK\r\nContent-Type: text/html; charset="Windows-1252"\r\n\r\n',
    "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n",
    "HTTP/1.1 200 OK\r\nServer: fixture\r\n\r\n",
    "HTTP/1.1 404 Not Found\r\nContent-Type: text/html; charset=utf-8\r\n\r\n",
    "HTTP/1.1 301 Moved Permanently\r\nLocation: https://example.org/moved\r\n"
    "Content-Type: text/html; charset=utf-8\r\n\r\n",
    "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
    "Transfer-Encoding: chunked\r\n\r\n",
    "HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n\r\n",
    "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n",
)

#: expected (status, mime, charset, charset_src) per arm — shared with
#: the oracle generator below; None charset = binary body withheld
_HTTP_EXPECT: tuple[tuple[int, str | None, str | None, str | None], ...] = (
    (200, "text/html", "utf-8", "header"),
    (200, "text/html", "latin-1", "header"),
    (200, "text/html", "cp1252", "header"),
    (200, "text/html", "utf-8", "bom"),
    (200, None, "cp1252", "default"),
    (404, "text/html", "utf-8", "header"),
    (301, "text/html", "utf-8", "header"),
    (200, "text/html", "utf-8", "header"),
    (200, "image/png", None, None),
    (200, "text/html", "utf-8", "meta"),
)


def src_warc_http(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP response envelopes inside WARC payloads (r13, VERDICT r12
    item 1): wrap every document page in a real HTTP message (status
    line, headers, charset-ENCODED body bytes — latin-1 / quoted
    windows-1252 / a raw 0x80 euro byte / a utf-8 BOM / the
    no-Content-Type browser default / a two-chunk Transfer-Encoding
    body / a binary image/png), frame the messages as WARC records
    (Content-Length = HTTP-message BYTES), scan back with
    ``warc_records(http_envelope=True)`` — which de-chunks, splits the
    envelope, resolves the charset, TRANSCODES text bodies to utf-8,
    and WITHHOLDS binary bodies from the text lane — and gate ingest
    on ``http_status == 200`` AND ``text_like``: the 404/301 arms
    surface with their status but NULL extraction, the png arm
    surfaces with its mime but NULL payload. The returned
    ``content_length`` pins the byte math (head bytes +
    charset/chunk-framing-dependent body bytes); the per-arm
    fingerprints pin the transcode (a latin-1 page must hash
    identically to what the utf-8 twin of the same text would).
    DuckDB computes the expected envelope fields and the html chain
    directly from the documents table via the SAME shared constants."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.text import html_extract
    from automated_datastore_discovery_with_aws_glue_spark.plans.llm_pipeline import (
        _HTML_WRAP_A,
        _HTML_WRAP_B,
        _HTML_WRAP_C,
        _HTML_WRAP_D,
    )
    from automated_datastore_discovery_with_aws_glue_spark.sources.warc import warc_records

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    arm = F.col("doc_id") % 10

    def page(salt: str) -> F.Column:
        return F.concat(
            F.lit(_HTML_WRAP_A), did, F.lit(_HTML_WRAP_B), did,
            F.lit(_HTML_WRAP_C), F.lit(salt), F.col("text"),
            F.lit(_HTML_WRAP_D),
        )

    cp_pre = F.concat(
        F.lit(_HTML_WRAP_A), did, F.lit(_HTML_WRAP_B), did,
        F.lit(_HTML_WRAP_C), F.lit(_HTTP_CP_PRE),
    )
    cp_post = F.concat(F.lit(_HTTP_CP_POST), F.col("text"), F.lit(_HTML_WRAP_D))
    cp_body = F.concat(
        F.encode(cp_pre, "ISO-8859-1"), F.lit(b"\x80"), F.encode(cp_post, "ISO-8859-1")
    )

    # two-chunk framing over the ASCII page (string slicing == byte
    # slicing there): "10\r\n" + first 16 + "\r\n" + hex(rest) + ...
    def chunked_over(p: F.Column) -> F.Column:
        return F.concat(
            F.lit(f"{_HTTP_CHUNK1:x}\r\n"),
            F.substring(p, 1, _HTTP_CHUNK1),
            F.lit("\r\n"),
            F.lower(F.hex(F.length(p) - _HTTP_CHUNK1)),
            F.lit("\r\n"),
            p.substr(F.lit(_HTTP_CHUNK1 + 1), F.length(p)),
            F.lit("\r\n0\r\n\r\n"),
        )

    chunked = TX.let(page(_HTTP_SALT_CHUNK), chunked_over)
    body = (
        F.when(arm == 0, F.encode(page(_WARC_SALT), "UTF-8"))
        .when(arm == 1, F.encode(page(_HTTP_SALT_L1), "ISO-8859-1"))
        .when(arm == 2, cp_body)
        .when(arm == 3, F.concat(F.lit(b"\xef\xbb\xbf"), F.encode(page(_WARC_SALT), "UTF-8")))
        .when(arm == 4, cp_body)
        .when(arm == 5, F.encode(F.lit(_HTTP_404_BODY), "UTF-8"))
        .when(arm == 6, F.encode(F.lit(_HTTP_301_BODY), "UTF-8"))
        .when(arm == 7, F.encode(chunked, "UTF-8"))
        .when(arm == 8, F.lit(_HTTP_PNG_BODY))
        .otherwise(
            F.encode(F.concat(F.lit(_HTTP_META_TAG), page(_WARC_SALT)), "UTF-8")
        )
    )
    head = None
    for i, h in enumerate(_HTTP_HEADS):
        head = F.when(arm == i, F.lit(h)) if head is None else head.when(arm == i, F.lit(h))
    msg = F.concat(F.encode(head, "UTF-8"), body)

    def rec_over(m: F.Column) -> F.Column:
        return F.concat(
            F.encode(
                F.concat(
                    F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: urn:doc:"),
                    did,
                    F.lit("\r\nContent-Length: "),
                    F.length(m).cast("string"),
                    F.lit("\r\n\r\n"),
                ),
                "UTF-8",
            ),
            m,
            F.encode(F.lit("\r\n\r\n"), "UTF-8"),
        )

    # container assembly must be LINEAR in records: a binary fold via
    # F.aggregate(concat) re-copies the accumulator every step
    # (quadratic per container — measured 3.7x at 10x data). Latin-1 is
    # byte-faithful both ways (bytes 0x00-0xFF <-> U+0000-U+00FF), so
    # decode each record, array_join (one pass), encode back — the
    # exact original bytes, including the raw 0x80 euro arm.
    per = docs.select(
        (F.col("doc_id") % _WARC_CONTAINERS).alias("cid"),
        "doc_id",
        F.decode(TX.let(msg, rec_over), "ISO-8859-1").alias("rec"),
    )
    containers = per.groupBy("cid").agg(
        F.encode(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "rec"))),
                    lambda s: s["rec"],
                ),
                "",
            ),
            "ISO-8859-1",
        ).alias("wdata")
    )
    recs = warc_records(containers, "wdata", http_envelope=True)
    # text_like: the scanner handed back a TEXT payload (binary bodies
    # are withheld as NULL); only 200 + text reaches extraction
    ingest = F.col("http_status") == 200
    x = recs.select(
        F.regexp_extract("target_uri", r"urn:doc:(\d+)", 1)
        .cast("bigint")
        .alias("doc_id"),
        "http_status",
        F.col("http_content_type").alias("content_type"),
        F.col("http_charset").alias("charset"),
        F.col("http_charset_src").alias("charset_src"),
        "content_length",
        ingest.alias("ingest"),
        F.col("payload").isNotNull().alias("text_like"),
        F.when(ingest & F.col("payload").isNotNull(), html_extract(F.col("payload"))).alias("_x"),
        "valid",
    )
    return x.select(
        "doc_id",
        "http_status",
        "content_type",
        "charset",
        "charset_src",
        "content_length",
        "ingest",
        "text_like",
        F.when(
            F.col("_x").isNotNull(),
            F.when(F.col("_x") == "", F.lit(0)).otherwise(
                F.size(F.split(F.col("_x"), r"\s+"))
            ),
        )
        .cast("int")
        .alias("n_words"),
        F.when(F.col("_x").isNotNull(), F.md5(F.col("_x").cast("binary"))).alias(
            "extracted_fp"
        ),
        "valid",
    ).orderBy("doc_id")


def _warc_http_sql() -> str:
    from automated_datastore_discovery_with_aws_glue_spark.plans.llm_pipeline import (
        html_sql_chain,
        html_sql_wrap_expr,
    )

    q = _sql_quote
    # the DECODED page per arm (what the charset transcode — and for
    # arm 7 the de-chunking — must yield); arms 5/6 are gated and arm 8
    # is binary-withheld, so their page is irrelevant — empty keeps the
    # html chain cheap
    salt_case = (
        f"CASE doc_id % 10 WHEN 1 THEN '{q(_HTTP_SALT_L1)}' "
        f"WHEN 2 THEN '{q(_HTTP_CP_DECODED)}' WHEN 4 THEN '{q(_HTTP_CP_DECODED)}' "
        f"WHEN 7 THEN '{q(_HTTP_SALT_CHUNK)}' "
        f"ELSE '{q(_WARC_SALT)}' END"
    )
    wrap = html_sql_wrap_expr(extra_salt="SALTEXPR").replace(
        "'SALTEXPR'", "(" + salt_case + ")"
    )
    page = (
        f"CASE WHEN doc_id % 10 IN (5, 6, 8) THEN '' "
        f"WHEN doc_id % 10 = 9 THEN '{q(_HTTP_META_TAG)}' || {wrap} "
        f"ELSE {wrap} END"
    )
    # content_length per arm: len(head) is a Python byte count (ASCII
    # constants); body bytes are charset arithmetic over the decoded
    # page — utf-8 strlen, one-byte-per-char for latin-1/cp1252, +3
    # for the BOM arm, chunk framing (4 + 2 + hexlen + 2 + 2 + 5 = 15 +
    # hexlen extra) over the ASCII page for arm 7
    c1 = _HTTP_CHUNK1
    clen_arms = [
        f"WHEN 0 THEN {len(_HTTP_HEADS[0])} + strlen(page)",
        f"WHEN 1 THEN {len(_HTTP_HEADS[1])} + length(page)",
        f"WHEN 2 THEN {len(_HTTP_HEADS[2])} + length(page)",
        f"WHEN 3 THEN {len(_HTTP_HEADS[3])} + 3 + strlen(page)",
        f"WHEN 4 THEN {len(_HTTP_HEADS[4])} + length(page)",
        f"WHEN 5 THEN {len(_HTTP_HEADS[5]) + len(_HTTP_404_BODY)}",
        f"WHEN 6 THEN {len(_HTTP_HEADS[6]) + len(_HTTP_301_BODY)}",
        f"WHEN 7 THEN {len(_HTTP_HEADS[7])} + length(page) + 15 "
        f"+ length(to_hex(length(page) - {c1}))",
        f"WHEN 8 THEN {len(_HTTP_HEADS[8]) + len(_HTTP_PNG_BODY)}",
        f"WHEN 9 THEN {len(_HTTP_HEADS[9])} + strlen(page)",
    ]
    clen = "CASE doc_id % 10 " + " ".join(clen_arms) + " END"

    def expect_case(idx: int, fmt) -> str:
        arms = " ".join(
            f"WHEN {i} THEN {fmt(e[idx])}" for i, e in enumerate(_HTTP_EXPECT)
        )
        return f"CASE doc_id % 10 {arms} END"

    def str_or_null(v) -> str:
        return "NULL" if v is None else f"'{v}'"

    status = expect_case(0, lambda v: str(v))
    mime = expect_case(1, str_or_null)
    charset = expect_case(2, str_or_null)
    src = expect_case(3, str_or_null)
    text_like = expect_case(2, lambda v: "FALSE" if v is None else "TRUE")
    return (
        f"""
    WITH pg AS MATERIALIZED (
        SELECT doc_id, text, {page} AS page FROM documents
    ),
    env AS MATERIALIZED (
        SELECT doc_id,
               {status} AS http_status,
               {mime} AS content_type,
               {charset} AS charset,
               {src} AS charset_src,
               CAST({clen} AS BIGINT) AS content_length,
               {text_like} AS text_like
        FROM pg
    ),
    """
        + html_sql_chain("page", source="pg")
        + """
    SELECT e.doc_id, e.http_status, e.content_type, e.charset,
           e.charset_src, e.content_length,
           (e.http_status = 200) AS ingest,
           e.text_like,
           CAST(CASE WHEN e.http_status <> 200 OR NOT e.text_like THEN NULL
                     WHEN coalesce(a.extracted, '') = '' THEN 0
                     ELSE len(regexp_split_to_array(a.extracted, '\\s+'))
                END AS INT) AS n_words,
           CASE WHEN e.http_status = 200 AND e.text_like
                THEN md5(coalesce(a.extracted, '')) END AS extracted_fp,
           TRUE AS valid
    FROM env e LEFT JOIN agg a USING (doc_id)
    ORDER BY e.doc_id"""
    )


QUERIES["src_warc_http"] = src_warc_http
ORACLES["src_warc_http"] = _warc_http_sql()


# ---------------------------------------------------------------------------
# corpus_robots_directives — Sitemap: + Crawl-delay: extraction (r12)
# ---------------------------------------------------------------------------

def corpus_robots_directives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt directive extraction (r12): per fixture host, the
    wildcard-group rule count, the star-group ``Crawl-delay`` (de-facto
    politeness extension — GROUP-scoped, so the no-star-group arm must
    report NULL even though its file carries a delay line), and the
    group-INDEPENDENT ``Sitemap:`` URLs (canonicalized; first one in
    document order, with an on-host flag) — the link that lets the
    robots layer FEED the sitemap-discovery layer. All per-host
    metadata: windows run over robots LINES, the output is one row per
    host. DuckDB replays the grouping chain, the directive regexes,
    the fractional-seconds -> ms math, and the canonicalization."""
    docs = load_table(spark, sf_dir, "documents")
    raw = _raw_url()
    # persisted: hosts/robots feed four derivation chains (rule count,
    # delay, sitemaps, the spine join) — each re-ran the corpus scan +
    # DISTINCT shuffle unpersisted (r14)
    hosts = docs.select(W.url_host(raw).alias("host")).distinct().persist()
    robots = hosts.withColumn("robots", _robots_text(F.col("host")))
    nr = W.robots_rules(robots, "host", "robots").groupBy("host").agg(
        F.count(F.lit(1)).alias("n_rules")
    )
    delay = W.robots_crawl_delay(robots, "host", "robots")
    sm = W.robots_sitemaps(robots, "host", "robots")
    smx = sm.select(
        "host",
        F.struct(
            F.col("sm_idx"),
            W.url_normalize(F.col("sitemap_url")).alias("u"),
            (W.url_host(F.col("sitemap_url")) == F.col("host")).alias("oh"),
        ).alias("_s"),
    )
    sm_agg = smx.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_sitemaps"),
        F.min("_s").alias("_first"),
    )
    own(hosts)
    return (
        hosts.join(nr, "host", "left")
        .join(delay, "host", "left")
        .join(sm_agg, "host", "left")
        .select(
            "host",
            F.coalesce("n_rules", F.lit(0).cast("bigint")).alias("n_rules"),
            "crawl_delay_ms",
            F.coalesce("n_sitemaps", F.lit(0).cast("bigint")).alias("n_sitemaps"),
            F.col("_first.u").alias("first_sitemap"),
            F.col("_first.oh").alias("sm_on_host"),
        )
        .orderBy("host")
    )


def _robots_directives_sql() -> str:
    dir_re = r"(?i)^(allow|disallow)\s*:(.*)$"
    delay_re = r"(?i)^crawl-delay\s*:(.*)$"
    sm_re = r"(?i)^sitemap\s*:(.*)$"
    dval = f"TRY_CAST(trim(regexp_extract(ln, '{delay_re}', 1)) AS DOUBLE)"
    return (
        "WITH " + _sql_url_ctes() + ",\n    " + _sql_robots_group_ctes() + f""",
    starln AS (
        SELECT g.host, g.i, g.ln FROM gr g JOIN sg USING (host, grp)
        WHERE NOT ua
    ),
    nr AS (
        SELECT host, CAST(count(*) AS BIGINT) AS n_rules FROM starln
        WHERE regexp_matches(ln, '{dir_re}')
          AND trim(regexp_extract(ln, '{dir_re}', 2)) <> ''
        GROUP BY host
    ),
    dl AS (
        SELECT host, CAST(floor(min({dval}) * 1000) AS INT) AS crawl_delay_ms
        FROM starln
        WHERE regexp_matches(ln, '{delay_re}') AND {dval} IS NOT NULL
        GROUP BY host
    ),
    sm AS (
        SELECT host, i, trim(regexp_extract(ln, '{sm_re}', 1)) AS su
        FROM mk WHERE regexp_matches(ln, '{sm_re}')
    ),
    sm2 AS (
        SELECT host, su,
               CAST(row_number() OVER (PARTITION BY host ORDER BY i) AS INT)
                   - 1 AS sm_idx
        FROM sm WHERE su <> ''
    ),
    smd AS (
        SELECT host, sm_idx, su, {_sql_pct_normalize("su")} AS sud FROM sm2
    ),
    smx AS (
        SELECT host, sm_idx,
               {_sql_url_norm_core("sud")} AS u,
               {_sql_url_host_expr("su")} = host AS oh
        FROM smd
    ),
    sma AS (
        SELECT host, CAST(count(*) AS BIGINT) AS n_sitemaps,
               arg_min(u, sm_idx) AS first_sitemap,
               arg_min(oh, sm_idx) AS sm_on_host
        FROM smx GROUP BY host
    )
    SELECT h.host,
           coalesce(nr.n_rules, 0) AS n_rules,
           dl.crawl_delay_ms,
           coalesce(sma.n_sitemaps, 0) AS n_sitemaps,
           sma.first_sitemap,
           sma.sm_on_host
    FROM rb h
    LEFT JOIN nr USING (host)
    LEFT JOIN dl USING (host)
    LEFT JOIN sma USING (host)
    ORDER BY h.host"""
    )


QUERIES["corpus_robots_directives"] = corpus_robots_directives
ORACLES["corpus_robots_directives"] = _robots_directives_sql()


# ---------------------------------------------------------------------------
# corpus_idn_hosts — IDN/punycode host folding to one canonical key (r13)
# ---------------------------------------------------------------------------

#: host templates (salt n = doc_id % 7 where '{n}' appears): Unicode
#: hosts, their punycode twins, case variants, an explicit port, CJK
#: labels, multi-label suffix interplay, and pure-ASCII fast-path rows.
#: Arms 0/1/2 MUST collapse to one folded key (xn--mnchen-3ya.de) —
#: that merge is what makes blocklists unbypassable by re-spelling.
_IDN_HOSTS: tuple[str, ...] = (
    "münchen.de",
    "xn--mnchen-3ya.de",
    "MÜNCHEN.DE",
    "bücher{n}.shop.co.uk",
    "example{n}.com",
    "漢字{n}.jp",
    "münchen.de:8443",
    "café{n}.fr",
    "plain{n}",
    # r14 (ADVICE r13): the DNS root-dot respellings — BOTH script
    # paths must fold them onto the dotless keys (arm 9 merges with
    # arms 0/1/2, arm 10 with arm 4), or a blocklist keyed on the
    # folded form is bypassable by appending a dot
    "münchen.de.",
    "example{n}.com.",
)


def _idn_host() -> F.Column:
    n = (F.col("doc_id") % 7).cast("string")
    arm = F.col("doc_id") % len(_IDN_HOSTS)
    chain = None
    for i, tpl in enumerate(_IDN_HOSTS):
        parts = tpl.split("{n}")
        pieces: list[F.Column] = []
        for j, p in enumerate(parts):
            if j:
                pieces.append(n)
            if p:
                pieces.append(F.lit(p))
        branch = F.concat(*pieces) if len(pieces) > 1 else pieces[0]
        chain = F.when(arm == i, branch) if chain is None else chain.when(arm == i, branch)
    return chain


def corpus_idn_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDN/punycode host canonicalization (r13, VERDICT r12 item 4):
    synthesize Unicode / punycode / case-variant / ported / CJK /
    plain-ASCII hosts per document, fold each to the canonical ASCII
    key with ``operators/web.idn_fold`` (ASCII rows never leave the
    JVM; the Unicode remainder folds ONCE PER DISTINCT HOST and
    broadcast-joins back), then key the PSL domain join and a
    same-key count on the FOLDED form — 'münchen.de',
    'MÜNCHEN.DE' and 'xn--mnchen-3ya.de' must land in one group, or a
    blocklist keyed on the raw spelling is bypassable. The oracle's
    expected folds are GENERATED from the same pure ``fold_host``
    function the kernel runs (the shared-constant discipline), so the
    differential pins the distributed plumbing: the fast-path
    classification, the distinct-fold-broadcast topology, port
    preservation, and the downstream PSL keying."""
    docs = load_table(spark, sf_dir, "documents")
    hosts = docs.select("doc_id", _idn_host().alias("host"))
    folded = W.idn_fold(hosts, "host", out="folded")
    x = W.registered_domain_join(folded, "folded")
    return (
        x.withColumn(
            "n_same_key",
            F.count(F.lit(1)).over(Window.partitionBy("folded")),
        )
        .select("doc_id", "host", "folded", "domain", "n_same_key")
        .orderBy("doc_id")
    )


def _idn_hosts_sql() -> str:
    # raw host arms (shared _IDN_HOSTS templates, same splice as Spark)
    raw_arms = []
    for i, tpl in enumerate(_IDN_HOSTS):
        parts = tpl.split("{n}")
        pieces = []
        for j, p in enumerate(parts):
            if j:
                pieces.append("(doc_id % 7)")
            if p:
                pieces.append(f"'{p}'")
        raw_arms.append(f"WHEN {i} THEN " + " || ".join(pieces))
    raw = f"CASE (doc_id % {len(_IDN_HOSTS)}) " + " ".join(raw_arms) + " END"
    # expected folded value per (arm, salt), computed ONCE in Python by
    # the operator's own pure fold_host — 63 literal branches; an
    # unfoldable arm must render as SQL NULL, never the string 'None'
    def fold_lit(h: str) -> str:
        v = W.fold_host(h)
        return "NULL" if v is None else f"'{v}'"

    fold_arms = []
    for i, tpl in enumerate(_IDN_HOSTS):
        if "{n}" in tpl:
            sub = " ".join(
                f"WHEN {n} THEN {fold_lit(tpl.replace(chr(123) + 'n' + chr(125), str(n)))}"
                for n in range(7)
            )
            fold_arms.append(f"WHEN {i} THEN (CASE (doc_id % 7) {sub} END)")
        else:
            fold_arms.append(f"WHEN {i} THEN {fold_lit(tpl)}")
    folded = f"CASE (doc_id % {len(_IDN_HOSTS)}) " + " ".join(fold_arms) + " END"
    return f"""
    WITH {_sql_psl_ctes()},
    h AS (SELECT doc_id, {raw} AS host, {folded} AS folded FROM documents),
    hx AS (
        SELECT doc_id, host, folded,
               regexp_replace(folded, ':\\d+$', '') AS hp
        FROM h
    ),
    dj AS (
        SELECT doc_id, host, folded, {_SQL_PSL_DOMAIN} AS domain
        FROM hx
        {_SQL_PSL_JOIN}
    )
    SELECT doc_id, host, folded, domain,
           CAST(count(*) OVER (PARTITION BY folded) AS BIGINT) AS n_same_key
    FROM dj
    ORDER BY doc_id"""


QUERIES["corpus_idn_hosts"] = corpus_idn_hosts
ORACLES["corpus_idn_hosts"] = _idn_hosts_sql()


# ---------------------------------------------------------------------------
# corpus_robots_agents — RFC 9309 user-agent group selection (r14)
# ---------------------------------------------------------------------------

#: the crawler's product token (RFC 9309 §2.2.1) — lowercase on both
#: engines; group values match when they are a case-insensitive PREFIX
#: of this token, longest value wins, '*' only as fallback
_AG_TOKEN = "graftbot-news"

#: per-host robots fixtures where the SPECIFIC group and the '*' group
#: DIVERGE (the r13 VERDICT's done-condition): every selection rule
#: does real work —
#: arm 0: three candidate groups; 'graftbot-news' (13) out-matches
#:        'graftbot' (8), so /q/ never binds the token; a SECOND
#:        graftbot-news group at file end merges in a crawl-delay
#:        (RFC: same-agent groups combine)
#: arm 1: the INVERSE divergence — '*' denies everything while the
#:        bot group is empty-Disallow allow-all (and carries no delay,
#:        so delay_agent stays NULL while delay_star is 4000)
#: arm 2: a SHORT prefix ('graft') still beats '*' when it is the
#:        only match
#: arm 3: CASE-variant group name, REP wildcard rules, NO star group
#:        at all — the generic crawler gets no rules, the token does
_AG_COM_ARMS: tuple[str, ...] = (
    "User-agent: graftbot-news\nDisallow: /p/\nAllow: /p/2\n\n"
    "User-agent: graftbot\nDisallow: /q/\n\n"
    "User-agent: *\nDisallow: /generic\nCrawl-delay: 1\n\n"
    "User-agent: graftbot-news\nCrawl-delay: 2.5\n",
    "User-agent: graftbot\nDisallow:\n\n"
    "User-agent: *\nDisallow: /\nCrawl-delay: 4\n",
    "User-agent: graft\nDisallow: /p/9\n\n"
    "User-agent: *\nDisallow: /p/1\nAllow: /p/12\n",
    "User-agent: GRAFTBOT-NEWS\nDisallow: /*?gclid=\nDisallow: /p/\n"
    "Allow: /p/13$\n",
)
#: UK hosts: a consecutive-UA-lines group naming TWO bots (binds via
#: 'graftbot') with a fractional delay, against a rule-carrying star
_AG_UK = (
    "User-agent: graftbot\nUser-agent: otherbot\n"
    "Disallow: /q/1\nAllow: /q/15\nCrawl-delay: 0.5\n\n"
    "User-agent: *\nAllow: /q/1\nDisallow: /q/11\n"
)


def _agent_robots_text(host: F.Column) -> F.Column:
    d4 = F.regexp_extract(host, r"domain(\d+)", 1).cast("int") % 4
    com = (
        F.when(d4 == 0, F.lit(_AG_COM_ARMS[0]))
        .when(d4 == 1, F.lit(_AG_COM_ARMS[1]))
        .when(d4 == 2, F.lit(_AG_COM_ARMS[2]))
        .otherwise(F.lit(_AG_COM_ARMS[3]))
    )
    return F.when(host.endswith(".co.uk"), F.lit(_AG_UK)).otherwise(com)


def corpus_robots_agents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 user-agent group selection (r14, VERDICT r13 item 1):
    every fixture host names bots — the common real-crawl shape the
    r13 engine got WRONG by always applying the ``*`` group. Each page
    is decided twice: as a generic crawler (wildcard groups) and as
    the ``graftbot-news`` product token (longest case-insensitive
    prefix match; same-agent groups merged; ``*`` only when nothing
    specific matches), through the SAME ``robots_filter`` precedence
    (octet ranking, allow-wins-ties, percent-normalized matching) —
    plus both selections' group-scoped ``Crawl-delay``. The fixtures
    diverge in BOTH directions (bot stricter than star, star stricter
    than bot, star absent entirely), so an engine that conflates the
    two selections hash-mismatches immediately. Same 100 TB shape as
    the r11 gate: per-host rule tables are tiny, verdicts are one
    broadcast join + one aggregate per selection. DuckDB replays the
    grouping windows, the prefix/longest/fallback selection, the
    merge, and both precedence chains."""
    docs = load_table(spark, sf_dir, "documents")
    raw = _raw_url()
    pages = docs.select(
        "doc_id",
        W.url_host(raw).alias("host"),
        W.url_raw_target(raw).alias("target"),
    )
    # the per-host robots table feeds FOUR parse chains (two rule
    # selections + two delay selections), each of which would otherwise
    # re-run the full pages scan + DISTINCT shuffle — persist the tiny
    # host-scale frame so the corpus is scanned once for it (r14)
    robots = (
        pages.select("host")
        .distinct()
        .withColumn("robots", _agent_robots_text(F.col("host")))
        .persist()
    )
    rules_star = W.robots_rules(robots, "host", "robots")
    rules_agent = W.robots_rules(robots, "host", "robots", agent=_AG_TOKEN)
    # robots_filter is map-side and row-preserving (r14): CHAIN the two
    # selections over one pages pass instead of joining two page-scale
    # verdict frames back on doc_id (was: two extra shuffles + three
    # pages subtree evaluations)
    vstar = (
        W.robots_filter(pages, rules_star, id_col="doc_id", path_col="target")
        .withColumnRenamed("allowed", "allowed_star")
        .withColumnRenamed("matched_prefix", "m_star")
    )
    both = (
        W.robots_filter(vstar, rules_agent, id_col="doc_id", path_col="target")
        .withColumnRenamed("allowed", "allowed_agent")
        .withColumnRenamed("matched_prefix", "m_agent")
    )
    dstar = W.robots_crawl_delay(robots, "host", "robots").select(
        "host", F.col("crawl_delay_ms").alias("delay_star_ms")
    )
    dagent = W.robots_crawl_delay(
        robots, "host", "robots", agent=_AG_TOKEN
    ).select("host", F.col("crawl_delay_ms").alias("delay_agent_ms"))
    out = (
        both.join(F.broadcast(dstar), "host", "left")
        .join(F.broadcast(dagent), "host", "left")
        .select(
            "doc_id",
            "host",
            "target",
            "allowed_star",
            "m_star",
            "allowed_agent",
            "m_agent",
            "delay_star_ms",
            "delay_agent_ms",
        )
        .orderBy("doc_id")
    )
    own(robots)
    return out


def _robots_agents_sql() -> str:
    q = _sql_quote_nl
    ua_re = r"(?i)^user-agent\s*:"
    dir_re = r"(?i)^(allow|disallow)\s*:(.*)$"
    delay_re = r"(?i)^crawl-delay\s*:(.*)$"
    arms = " ".join(
        f"WHEN {i} THEN '{q(a)}'" for i, a in enumerate(_AG_COM_ARMS[:3])
    )
    dval = f"TRY_CAST(trim(regexp_extract(ln, '{delay_re}', 1)) AS DOUBLE)"

    def verdict(side: str) -> str:
        """rule table -> compiled patterns -> page match -> best-rule
        precedence (octets, allow wins ties) for one group selection
        CTE ``sg{side}`` — the _robots_filter_sql chain, suffixed."""
        return f"""rl{side} AS (
        SELECT g.host,
               lower(regexp_extract(ln, '{dir_re}', 1)) AS rule,
               trim(regexp_extract(ln, '{dir_re}', 2)) AS prefix
        FROM agr g JOIN sg{side} USING (host, grp)
        WHERE NOT ua AND regexp_matches(ln, '{dir_re}')
    ),
    rl1{side} AS (
        SELECT *, coalesce({_sql_pct_normalize("prefix")}, prefix) AS pfxd
        FROM rl{side} WHERE prefix <> ''
    ),
    rl2{side} AS (
        SELECT *,
               (contains(prefix, '*') OR ends_with(prefix, '$')) AS wild,
               '^' || regexp_replace(regexp_replace(regexp_replace(pfxd,
                   '{W.REP_SPECIALS_CLASS}', '\\\\\\1', 'g'),
                   '\\*', '.*', 'g'),
                   '\\\\\\$$', '$') AS pat
        FROM rl1{side}
    ),
    mt{side} AS (
        SELECT p.doc_id, r.rule, r.prefix
        FROM nn p JOIN rl2{side} r ON p.host = r.host AND
             (CASE WHEN r.wild THEN regexp_matches(p.rtargetd, r.pat)
                   ELSE starts_with(p.rtargetd, r.pfxd) END)
    ),
    bst{side} AS (
        SELECT doc_id, rule, prefix FROM mt{side}
        QUALIFY row_number() OVER (PARTITION BY doc_id
            ORDER BY strlen(prefix) DESC, (rule = 'allow') DESC, prefix DESC) = 1
    ),
    dl{side} AS (
        SELECT g.host,
               CAST(floor(min({dval}) * 1000) AS INT) AS d
        FROM agr g JOIN sg{side} USING (host, grp)
        WHERE NOT ua AND regexp_matches(ln, '{delay_re}')
          AND {dval} IS NOT NULL
        GROUP BY g.host
    )"""

    return (
        "WITH " + _sql_url_ctes() + f""",
    arb AS (SELECT DISTINCT host FROM nn),
    art AS MATERIALIZED (
        SELECT host,
               CASE WHEN host LIKE '%.co.uk' THEN '{q(_AG_UK)}'
                    ELSE (CASE (TRY_CAST(regexp_extract(host, 'domain(\\d+)', 1) AS INT) % 4)
                         {arms}
                         ELSE '{q(_AG_COM_ARMS[3])}' END)
               END AS robots
        FROM arb
    ),
    alx AS (
        SELECT host, t.i AS i,
               trim(regexp_replace(string_split(robots, chr(10))[t.i], '#.*$', '')) AS ln
        FROM art, unnest(generate_series(1, len(string_split(robots, chr(10))))) AS t(i)
    ),
    amk AS (
        SELECT host, i, ln, regexp_matches(ln, '{ua_re}') AS ua
        FROM alx WHERE ln <> ''
    ),
    apk AS (
        SELECT *,
               coalesce(lag(ua) OVER (PARTITION BY host ORDER BY i), FALSE)
                   AS prev_ua
        FROM amk
    ),
    agr AS (
        SELECT *,
               SUM(CASE WHEN ua AND NOT prev_ua THEN 1 ELSE 0 END)
                   OVER (PARTITION BY host ORDER BY i) AS grp
        FROM apk
    ),
    agv AS (
        SELECT host, grp,
               lower(trim(regexp_extract(ln, '{ua_re}(.*)$', 1))) AS v
        FROM agr WHERE ua
    ),
    sgS AS (
        SELECT host, grp FROM agv GROUP BY host, grp
        HAVING max(CASE WHEN v = '*' THEN 1 ELSE 0 END) = 1
    ),
    agm AS (
        SELECT host, grp,
               max(CASE WHEN v <> '*' AND starts_with('{_AG_TOKEN}', v)
                        THEN length(v) END) AS mlen,
               max(CASE WHEN v = '*' THEN 1 ELSE 0 END) AS star
        FROM agv GROUP BY host, grp
    ),
    agb AS (SELECT host, max(mlen) AS best FROM agm GROUP BY host),
    sgA AS (
        SELECT m.host, m.grp FROM agm m JOIN agb b USING (host)
        WHERE CASE WHEN b.best IS NOT NULL THEN m.mlen = b.best
                   ELSE m.star = 1 END
    ),
    {verdict("S")},
    {verdict("A")}
    SELECT n.doc_id, n.host, n.rtarget AS target,
           coalesce(bS.rule = 'allow', TRUE) AS allowed_star,
           bS.prefix AS m_star,
           coalesce(bA.rule = 'allow', TRUE) AS allowed_agent,
           bA.prefix AS m_agent,
           dlS.d AS delay_star_ms,
           dlA.d AS delay_agent_ms
    FROM nn n
    LEFT JOIN bstS bS USING (doc_id)
    LEFT JOIN bstA bA USING (doc_id)
    LEFT JOIN dlS ON n.host = dlS.host
    LEFT JOIN dlA ON n.host = dlA.host
    ORDER BY n.doc_id"""
    )


QUERIES["corpus_robots_agents"] = corpus_robots_agents
ORACLES["corpus_robots_agents"] = _robots_agents_sql()


# ---------------------------------------------------------------------------
# corpus_redirect_frontier — 3xx Location capture -> frontier delta (r14)
# ---------------------------------------------------------------------------

#: redirect arms (doc_id % 8): (status, Location form). Location is
#: legally RELATIVE, so every RFC 3986 resolution branch gets a real
#: arm; arms 6/7 carry NO Location and must contribute nothing to the
#: frontier (the VERDICT's 404-arm condition). Arm 0 redirects to the
#: record's own URL — the one target guaranteed to be in the crawled
#: set (known=true) at every sf.
_RF_ARMS: tuple[tuple[int, str | None], ...] = (
    (301, "SELF"),            # absolute, on-host, already crawled
    (302, "/moved/{g}"),      # origin-relative -> NEW frontier path
    (301, "next-{g}"),        # path-relative, merges onto the base dir
    (301, "../up/{g}"),       # dot segments must collapse
    (302, "//cdn.example/x/{g}"),  # protocol-relative, OFF-host
    (301, "?page=2"),         # query-only replaces the base query
    (200, None),              # no redirect
    (404, None),              # error page, no Location
)
_RF_BODY = "<html><body><p>redirect fixture stub body</p></body></html>"
_RF_REASONS = {200: "OK", 301: "Moved Permanently", 302: "Found", 404: "Not Found"}


def _rf_location() -> F.Column:
    """The Location header value per doc (NULL on arms 6/7)."""
    g = (F.col("doc_id") % 200).cast("string")
    arm = F.col("doc_id") % len(_RF_ARMS)
    chain = None
    for i, (_, loc) in enumerate(_RF_ARMS):
        if loc is None:
            branch = F.lit(None).cast("string")
        elif loc == "SELF":
            branch = _raw_url()
        else:
            parts = loc.split("{g}")
            pieces: list[F.Column] = []
            for j, p in enumerate(parts):
                if j:
                    pieces.append(g)
                if p:
                    pieces.append(F.lit(p))
            branch = F.concat(*pieces) if len(pieces) > 1 else pieces[0]
        chain = F.when(arm == i, branch) if chain is None else chain.when(arm == i, branch)
    return chain


def corpus_redirect_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-frontier discovery (r14, VERDICT r13 item 2): wrap
    every document's fetch as a WARC response whose HTTP envelope is a
    3xx WITH a Location header (absolute / origin-relative /
    path-relative / dotted / protocol-relative / query-only forms), a
    200, or a 404; scan back with ``warc_records(http_envelope=True)``
    — which now surfaces ``http_location`` — resolve each Location
    against the record's OWN URI (``operators/web.url_resolve``, RFC
    3986: relative Location is legal), canonicalize, and classify the
    target against the already-crawled canonical set exactly like
    sitemap discovery: on-host / known / NEW. Scale shape: the WARC
    scan is per-container mapInPandas (the documented honest Python
    path), resolution + normalization are map-side JVM expressions,
    and the only data-scale shuffle is the semi-join against the
    crawled set on the canonical URL — high-cardinality, skew-free.
    DuckDB replays the per-arm envelope, the FULL resolution algorithm
    (branch structure + the dot-segment stack fold), normalization,
    and the classification."""
    from automated_datastore_discovery_with_aws_glue_spark.sources.warc import warc_records

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    raw = _raw_url()
    arm = F.col("doc_id") % len(_RF_ARMS)
    status = None
    for i, (st, _) in enumerate(_RF_ARMS):
        status = F.when(arm == i, F.lit(st)) if status is None else status.when(arm == i, F.lit(st))
    reason = None
    for st, rs in _RF_REASONS.items():
        reason = F.when(status == st, F.lit(rs)) if reason is None else reason.when(status == st, F.lit(rs))
    loc = _rf_location()
    head = F.concat(
        F.lit("HTTP/1.1 "),
        status.cast("string"),
        F.lit(" "),
        reason,
        F.when(loc.isNotNull(), F.concat(F.lit("\r\nLocation: "), loc)).otherwise(F.lit("")),
        F.lit("\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"),
        F.lit(_RF_BODY),
    )
    msg = F.encode(head, "UTF-8")

    def rec_over(m: F.Column) -> F.Column:
        # the URI carries a '#d<doc_id>' fragment so each record maps
        # back to its document (fragments never affect resolution: the
        # base splitter excludes them from path and query)
        return F.concat(
            F.encode(
                F.concat(
                    F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
                    raw,
                    F.lit("#d"),
                    did,
                    F.lit("\r\nContent-Length: "),
                    F.length(m).cast("string"),
                    F.lit("\r\n\r\n"),
                ),
                "UTF-8",
            ),
            m,
            F.encode(F.lit("\r\n\r\n"), "UTF-8"),
        )

    # same FIXTURE-ONLY latin-1 array_join assembly as src_warc_http —
    # linear in records, byte-faithful for the multi-byte URL arm
    per = docs.select(
        (F.col("doc_id") % _WARC_CONTAINERS).alias("cid"),
        "doc_id",
        F.decode(TX.let(msg, rec_over), "ISO-8859-1").alias("rec"),
    )
    containers = per.groupBy("cid").agg(
        F.encode(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "rec"))),
                    lambda s: s["rec"],
                ),
                "",
            ),
            "ISO-8859-1",
        ).alias("wdata")
    )
    recs = warc_records(containers, "wdata", http_envelope=True)
    crawled = docs.select(W.url_normalize(_raw_url()).alias("frontier")).distinct()
    x = recs.select(
        F.regexp_extract("target_uri", r"#d(\d+)$", 1).cast("bigint").alias("doc_id"),
        "target_uri",
        "http_status",
        F.col("http_location").alias("location"),
        W.url_resolve(F.col("target_uri"), F.col("http_location")).alias("resolved"),
    )
    x = x.select(
        "*",
        W.url_normalize(F.col("resolved")).alias("frontier"),
        (W.url_host(F.col("resolved")) == W.url_host(F.col("target_uri"))).alias("on_host"),
    )
    marked = x.join(
        crawled.withColumn("_k", F.lit(1)), "frontier", "left"
    ).withColumn("known", F.col("frontier").isNotNull() & F.col("_k").isNotNull())
    return marked.select(
        "doc_id",
        "http_status",
        "location",
        "resolved",
        "frontier",
        F.when(F.col("location").isNotNull(), F.col("on_host")).alias("on_host"),
        F.when(F.col("location").isNotNull(), F.col("known")).alias("known"),
    ).orderBy("doc_id")


def _sql_dot_segments(p: str) -> str:
    """DuckDB replay of ``operators/web.remove_dot_segments``: the same
    segment-stack fold via ``list_reduce`` (the initial accumulator is
    a prepended empty list; every branch returns a FRESH list — DuckDB
    1.0's list_reduce mangles a lambda that returns the accumulator
    expression unchanged, so the no-op case is expressed as a
    zero-pop/zero-push concat)."""
    fold = (
        f"array_to_string(list_reduce(list_prepend([]::VARCHAR[], "
        f"list_transform(string_split({p}, '/'), s -> [s])), "
        f"(acc, x) -> list_concat("
        f"acc[:len(acc) - CASE WHEN x[1] = '..' THEN 1 ELSE 0 END], "
        f"CASE WHEN x[1] IN ('.', '..') THEN []::VARCHAR[] ELSE [x[1]] END"
        f")), '/')"
    )
    return (
        f"(CASE WHEN starts_with({fold}, '/') THEN {fold} "
        f"ELSE '/' || {fold} END)"
    )


def _sql_url_resolve(b: str, r: str) -> str:
    """DuckDB replay of ``operators/web.url_resolve`` — branch
    structure, path-only dot removal, NULL quarantine, verbatim."""
    sch = f"regexp_extract({b}, '{_URL_RE_SQL}', 1)"
    auth = f"regexp_extract({b}, '{_URL_RE_SQL}', 2)"
    origin = f"({sch} || '://' || {auth})"
    bp0 = f"regexp_extract({b}, '{_URL_RE_SQL}', 3)"
    bpath = f"(CASE WHEN {bp0} = '' THEN '/' ELSE {bp0} END)"
    bdir = f"regexp_replace({bpath}, '[^/]*$', '')"
    bq = f"coalesce(regexp_extract({b}, '{_URL_RE_SQL}', 4), '')"
    rpath = f"regexp_extract({r}, '^([^?#]*)', 1)"
    rtail = f"substr({r}, length({rpath}) + 1)"
    return f"""(CASE WHEN {r} IS NULL OR {r} = ''
              OR NOT regexp_matches({b}, '{_URL_RE_SQL}') THEN NULL
         WHEN regexp_matches({r}, '{W.URI_SCHEME_RE}') THEN {r}
         WHEN starts_with({r}, '//') THEN {sch} || ':' || {r}
         WHEN starts_with({r}, '/')
              THEN {origin} || {_sql_dot_segments(rpath)} || {rtail}
         WHEN starts_with({r}, '?') THEN {origin} || {bpath} || {r}
         WHEN starts_with({r}, '#')
              THEN {origin} || {bpath} ||
                   CASE WHEN {bq} = '' THEN '' ELSE '?' || {bq} END
         ELSE {origin} || {_sql_dot_segments(f"({bdir} || {rpath})")} || {rtail}
         END)"""


def _redirect_frontier_sql() -> str:
    loc_arms = []
    for i, (_, loc) in enumerate(_RF_ARMS):
        if loc is None:
            loc_arms.append(f"WHEN {i} THEN NULL")
        elif loc == "SELF":
            loc_arms.append(f"WHEN {i} THEN url")
        else:
            parts = loc.split("{g}")
            pieces = []
            for j, p in enumerate(parts):
                if j:
                    pieces.append("(doc_id % 200)")
                if p:
                    pieces.append(f"'{p}'")
            loc_arms.append(f"WHEN {i} THEN " + " || ".join(pieces))
    loc = f"CASE doc_id % {len(_RF_ARMS)} " + " ".join(loc_arms) + " END"
    status_arms = " ".join(
        f"WHEN {i} THEN {st}" for i, (st, _) in enumerate(_RF_ARMS)
    )
    status = f"CASE doc_id % {len(_RF_ARMS)} " + status_arms + " END"
    return (
        "WITH " + _sql_url_ctes() + f""",
    rf AS (
        SELECT doc_id, url, {status} AS http_status, {loc} AS location
        FROM u
    ),
    rs AS MATERIALIZED (
        SELECT doc_id, url, http_status, location,
               {_sql_url_resolve("url", "location")} AS resolved
        FROM rf
    ),
    rd AS (
        SELECT *, {_sql_pct_normalize("resolved")} AS resolvedd FROM rs
    ),
    rx AS MATERIALIZED (
        SELECT doc_id, http_status, location, resolved,
               {_sql_url_norm_core("resolvedd")} AS frontier,
               {_sql_url_host_expr("resolved")} = {_sql_url_host_expr("url")}
                   AS on_host
        FROM rd
    ),
    crawled AS MATERIALIZED (SELECT DISTINCT url_norm FROM nn)
    SELECT r.doc_id, r.http_status, r.location, r.resolved, r.frontier,
           CASE WHEN r.location IS NOT NULL THEN coalesce(r.on_host, FALSE) END
               AS on_host,
           CASE WHEN r.location IS NOT NULL
                THEN (r.frontier IS NOT NULL AND c.url_norm IS NOT NULL) END
               AS known
    FROM rx r LEFT JOIN crawled c ON r.frontier = c.url_norm
    ORDER BY r.doc_id"""
    )


QUERIES["corpus_redirect_frontier"] = corpus_redirect_frontier
ORACLES["corpus_redirect_frontier"] = _redirect_frontier_sql()


# ---------------------------------------------------------------------------
# crawl_schedule — per-host politeness fetch slots over the allowed frontier
# ---------------------------------------------------------------------------

#: delay a polite crawler assumes for hosts that publish none
_CS_DEFAULT_MS = 1000


def crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host politeness schedule (r14, VERDICT r13 item 7): the
    composition the robots layer enables — gate every page through the
    ``robots_filter`` verdict (the r11 fixture: overlapping prefixes,
    REP wildcards, deny-all, no-star-group arms), then assign each
    ALLOWED fetch its slot: pages ordered per host by doc_id, ``seq``
    the 1-based position, ``delay_ms`` the host's star-group
    ``Crawl-delay`` (1500 on the .com directive arms, 2000 on .co.uk,
    the 1000 default on the no-star-group arm — which has no wildcard
    delay even though its file CARRIES a delay line, the group-scoping
    pin), ``fetch_slot_ms = (seq-1) * delay_ms`` in exact integer
    arithmetic. Scale shape: broadcast rule/delay joins + ONE window
    per host key — hosts schedule independently, a mega-host
    serializes only its own partition (inherent: its fetches are
    sequential in real time; plan-audited in pytest). DuckDB replays
    the verdict chain, the delay math, and the slot assignment."""
    docs = load_table(spark, sf_dir, "documents")
    raw = _raw_url()
    pages = docs.select(
        "doc_id",
        W.url_host(raw).alias("host"),
        W.url_raw_target(raw).alias("target"),
    )
    # persisted: the host-scale robots table feeds both the rule parse
    # and the delay parse — unpersisted each chain re-ran the pages
    # scan + DISTINCT shuffle (r14)
    robots = (
        pages.select("host")
        .distinct()
        .withColumn("robots", _robots_text(F.col("host")))
        .persist()
    )
    rules = W.robots_rules(robots, "host", "robots")
    verdict = W.robots_filter(pages, rules, id_col="doc_id", path_col="target")
    frontier = verdict.filter(F.col("allowed")).select("doc_id", "host", "target")
    delays = W.robots_crawl_delay(robots, "host", "robots")
    out = W.crawl_schedule(
        frontier, delays, id_col="doc_id", default_delay_ms=_CS_DEFAULT_MS
    )
    own(robots)
    return out.select(
        "doc_id", "host", "target", "seq", "delay_ms", "fetch_slot_ms"
    ).orderBy("doc_id")


def _crawl_schedule_sql() -> str:
    dir_re = r"(?i)^(allow|disallow)\s*:(.*)$"
    delay_re = r"(?i)^crawl-delay\s*:(.*)$"
    dval = f"TRY_CAST(trim(regexp_extract(ln, '{delay_re}', 1)) AS DOUBLE)"
    return (
        "WITH " + _sql_url_ctes() + ",\n    " + _sql_robots_group_ctes() + f""",
    rl AS (
        SELECT g.host,
               lower(regexp_extract(ln, '{dir_re}', 1)) AS rule,
               trim(regexp_extract(ln, '{dir_re}', 2)) AS prefix
        FROM gr g JOIN sg USING (host, grp)
        WHERE NOT ua AND regexp_matches(ln, '{dir_re}')
    ),
    rl1 AS (
        SELECT *, coalesce({_sql_pct_normalize("prefix")}, prefix) AS pfxd
        FROM rl WHERE prefix <> ''
    ),
    rl2 AS (
        SELECT *,
               (contains(prefix, '*') OR ends_with(prefix, '$')) AS wild,
               '^' || regexp_replace(regexp_replace(regexp_replace(pfxd,
                   '{W.REP_SPECIALS_CLASS}', '\\\\\\1', 'g'),
                   '\\*', '.*', 'g'),
                   '\\\\\\$$', '$') AS pat
        FROM rl1
    ),
    mt AS (
        SELECT p.doc_id, r.rule, r.prefix
        FROM nn p JOIN rl2 r ON p.host = r.host AND
             (CASE WHEN r.wild THEN regexp_matches(p.rtargetd, r.pat)
                   ELSE starts_with(p.rtargetd, r.pfxd) END)
    ),
    bst AS (
        SELECT doc_id, rule, prefix FROM mt
        QUALIFY row_number() OVER (PARTITION BY doc_id
            ORDER BY strlen(prefix) DESC, (rule = 'allow') DESC, prefix DESC) = 1
    ),
    alw AS (
        SELECT n.doc_id, n.host, n.rtarget AS target
        FROM nn n LEFT JOIN bst b USING (doc_id)
        WHERE coalesce(b.rule = 'allow', TRUE)
    ),
    dl AS (
        SELECT g.host,
               CAST(floor(min({dval}) * 1000) AS INT) AS d
        FROM gr g JOIN sg USING (host, grp)
        WHERE NOT ua AND regexp_matches(ln, '{delay_re}')
          AND {dval} IS NOT NULL
        GROUP BY g.host
    ),
    sq AS (
        SELECT a.doc_id, a.host, a.target,
               CAST(row_number() OVER (PARTITION BY a.host ORDER BY a.doc_id)
                    AS INT) AS seq,
               CAST(coalesce(dl.d, {_CS_DEFAULT_MS}) AS BIGINT) AS delay_ms
        FROM alw a LEFT JOIN dl ON a.host = dl.host
    )
    SELECT doc_id, host, target, seq, delay_ms,
           CAST((seq - 1) AS BIGINT) * delay_ms AS fetch_slot_ms
    FROM sq
    ORDER BY doc_id"""
    )


QUERIES["crawl_schedule"] = crawl_schedule
ORACLES["crawl_schedule"] = _crawl_schedule_sql()


# ---------------------------------------------------------------------------
# src_warc_charsets — CJK/utf-16 transcode, deflate, HTTP/2, binary sniff (r14)
# ---------------------------------------------------------------------------
#
# Ten arms (doc_id % 10) pinning the r14 envelope additions end-to-end:
#   0-4: header-declared CJK / cyrillic charsets (shift_jis -> cp932,
#        gb2312 -> gbk, euc-kr -> cp949, big5, koi8-r) — multi-byte
#        salts make Content-Length byte math charset-dependent, and
#        the payload fingerprint pins the utf-8 TRANSCODE
#   5:   header-declared utf-16le, NO BOM (2 bytes/char)
#   6:   bare 'utf-16' label WITH a BOM (BOM consumed, never corpus text)
#   7:   HTTP/2 status line + Content-Encoding: deflate (constant body)
#   8:   x-gzip legacy alias (constant body)
#   9:   NO Content-Type + PNG magic -> sniffed binary, payload WITHHELD

#: (python-codec, IANA label as the fixture declares it, salt) per CJK arm
_WC_CJK: tuple[tuple[str, str, str], ...] = (
    ("cp932", "shift_jis", "漢字 テスト"),
    ("gbk", "gb2312", "中文测试"),
    ("cp949", "euc-kr", "한글 인사"),
    ("big5", "big5", "中文測試"),
    ("koi8-r", "koi8-r", "Привет мир"),
)
#: BMP-only salts for the utf-16 arms (2 bytes per char, no surrogates)
_WC_U16_SALT = "ütf-16 漢字"
#: page skeleton shared by both engines: PRE + doc_id + MID + salt + "] " + text
_WC_PRE = "doc "
_WC_MID = " ["
_WC_POST = "] "

_WC_DEFLATE_TEXT = "deflate arm constant body text"
_WC_GZIP_TEXT = "x-gzip arm constant body text"


def _wc_bodies() -> tuple[bytes, bytes, bytes]:
    """The three constant bodies (deflate / x-gzip / png) — computed
    once, shared by the fixture and the oracle generator."""
    import gzip
    import zlib

    deflate = zlib.compress(_WC_DEFLATE_TEXT.encode("utf-8"))
    gz = gzip.compress(_WC_GZIP_TEXT.encode("utf-8"), mtime=0)
    png = b"\x89PNG\r\n\x1a\n" + bytes(range(0x80, 0xE0))
    return deflate, gz, png


#: per-arm HTTP heads (ASCII constants — byte length is len())
_WC_HEADS: tuple[str, ...] = tuple(
    f"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset={label}\r\n\r\n"
    for _, label, _s in _WC_CJK
) + (
    "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-16le\r\n\r\n",
    'HTTP/1.1 200 OK\r\nContent-Type: text/html; charset="UTF-16"\r\n\r\n',
    "HTTP/2 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
    "Content-Encoding: deflate\r\n\r\n",
    "HTTP/2 200\r\nContent-Type: text/html; charset=utf-8\r\n"
    "Content-Encoding: x-gzip\r\n\r\n",
    "HTTP/2 200 OK\r\nServer: fixture\r\n\r\n",
)

#: expected (content_type, charset, charset_src, text_like) per arm
_WC_EXPECT: tuple[tuple[str | None, str | None, str | None, bool], ...] = tuple(
    ("text/html", codec, "header", True) for codec, _l, _s in _WC_CJK
) + (
    ("text/html", "utf-16-le", "header", True),
    ("text/html", "utf-16", "header", True),
    ("text/html", "utf-8", "header", True),
    ("text/html", "utf-8", "header", True),
    (None, None, None, False),
)


def src_warc_charsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r14 envelope coverage (VERDICT r13 items 3/4/6 + ADVICE sniff):
    encode each document's page under the charset families real
    multilingual crawls declare, frame as WARC records, scan back with
    ``warc_records(http_envelope=True)``, and pin per-arm status /
    mime / charset / source / BYTE-exact Content-Length / utf-8
    fingerprint. The CJK bodies are built byte-level (Spark cannot
    encode cp932/gbk — the multi-byte salt is a Python-encoded
    constant spliced between ASCII segments), the utf-16 arms via
    Spark's own encoders (BOM consumed on the bare-label arm), the
    deflate / x-gzip arms carry constant compressed bodies under
    HTTP/2 status lines, and the undeclared-PNG arm must come back
    payload-WITHHELD. A fingerprint equal to the one the utf-8 twin
    of the same text would produce is the transcode proof. DuckDB
    computes every expected field from the same shared constants."""
    from automated_datastore_discovery_with_aws_glue_spark.sources.warc import warc_records

    deflate_b, gzip_b, png_b = _wc_bodies()
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    arm = F.col("doc_id") % 10

    def page(salt: str) -> F.Column:
        return F.concat(
            F.lit(_WC_PRE), did, F.lit(_WC_MID), F.lit(salt),
            F.lit(_WC_POST), F.col("text"),
        )

    def cjk_body(codec: str, salt: str) -> F.Column:
        pre = F.concat(F.lit(_WC_PRE), did, F.lit(_WC_MID))
        post = F.concat(F.lit(_WC_POST), F.col("text"))
        return F.concat(
            F.encode(pre, "ISO-8859-1"),
            F.lit(salt.encode(codec)),
            F.encode(post, "ISO-8859-1"),
        )

    body = None
    for i, (codec, _label, salt) in enumerate(_WC_CJK):
        b = cjk_body(codec, salt)
        body = F.when(arm == i, b) if body is None else body.when(arm == i, b)
    body = (
        body.when(arm == 5, F.encode(page(_WC_U16_SALT), "UTF-16LE"))
        .when(arm == 6, F.encode(page(_WC_U16_SALT), "UTF-16"))
        .when(arm == 7, F.lit(deflate_b))
        .when(arm == 8, F.lit(gzip_b))
        .otherwise(F.lit(png_b))
    )
    head = None
    for i, h in enumerate(_WC_HEADS):
        head = F.when(arm == i, F.lit(h)) if head is None else head.when(arm == i, F.lit(h))
    msg = F.concat(F.encode(head, "UTF-8"), body)

    def rec_over(m: F.Column) -> F.Column:
        return F.concat(
            F.encode(
                F.concat(
                    F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: urn:doc:"),
                    did,
                    F.lit("\r\nContent-Length: "),
                    F.length(m).cast("string"),
                    F.lit("\r\n\r\n"),
                ),
                "UTF-8",
            ),
            m,
            F.encode(F.lit("\r\n\r\n"), "UTF-8"),
        )

    per = docs.select(
        (F.col("doc_id") % _WARC_CONTAINERS).alias("cid"),
        "doc_id",
        F.decode(TX.let(msg, rec_over), "ISO-8859-1").alias("rec"),
    )
    containers = per.groupBy("cid").agg(
        F.encode(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "rec"))),
                    lambda s: s["rec"],
                ),
                "",
            ),
            "ISO-8859-1",
        ).alias("wdata")
    )
    recs = warc_records(containers, "wdata", http_envelope=True)
    return recs.select(
        F.regexp_extract("target_uri", r"urn:doc:(\d+)", 1)
        .cast("bigint")
        .alias("doc_id"),
        "http_status",
        F.col("http_content_type").alias("content_type"),
        F.col("http_charset").alias("charset"),
        F.col("http_charset_src").alias("charset_src"),
        "content_length",
        F.col("payload").isNotNull().alias("text_like"),
        F.when(
            F.col("payload").isNotNull(),
            F.size(F.split(F.col("payload"), r"\s+")),
        )
        .cast("int")
        .alias("n_words"),
        F.when(
            F.col("payload").isNotNull(), F.md5(F.col("payload").cast("binary"))
        ).alias("payload_fp"),
        "valid",
    ).orderBy("doc_id")


def _warc_charsets_sql() -> str:
    q = _sql_quote
    deflate_b, gzip_b, png_b = _wc_bodies()
    # the DECODED payload per text arm (what the transcode must yield)
    salt_case_arms = " ".join(
        f"WHEN {i} THEN '{q(s)}'" for i, (_c, _l, s) in enumerate(_WC_CJK)
    )
    salt = (
        f"CASE doc_id % 10 {salt_case_arms} "
        f"ELSE '{q(_WC_U16_SALT)}' END"
    )
    page = (
        f"'{_WC_PRE}' || doc_id || '{_WC_MID}' || ({salt}) || "
        f"'{q(_WC_POST)}' || text"
    )
    # per-arm body byte count: ASCII chars count 1; the salt's byte
    # length is a Python constant; utf-16 arms are 2 bytes/char (+2 BOM
    # on the bare-label arm); constant arms are len() of the constant
    clen_arms = []
    for i, (codec, _l, s) in enumerate(_WC_CJK):
        clen_arms.append(
            f"WHEN {i} THEN {len(_WC_HEADS[i])} + length(page) "
            f"- {len(s)} + {len(s.encode(codec))}"
        )
    clen_arms += [
        f"WHEN 5 THEN {len(_WC_HEADS[5])} + 2 * length(page)",
        f"WHEN 6 THEN {len(_WC_HEADS[6])} + 2 + 2 * length(page)",
        f"WHEN 7 THEN {len(_WC_HEADS[7]) + len(deflate_b)}",
        f"WHEN 8 THEN {len(_WC_HEADS[8]) + len(gzip_b)}",
        f"WHEN 9 THEN {len(_WC_HEADS[9]) + len(png_b)}",
    ]
    clen = "CASE doc_id % 10 " + " ".join(clen_arms) + " END"

    def str_or_null(v) -> str:
        return "NULL" if v is None else f"'{v}'"

    def expect_case(idx: int) -> str:
        arms = " ".join(
            f"WHEN {i} THEN {str_or_null(e[idx])}"
            for i, e in enumerate(_WC_EXPECT)
        )
        return f"CASE doc_id % 10 {arms} END"

    text_like = (
        "CASE doc_id % 10 "
        + " ".join(
            f"WHEN {i} THEN {'TRUE' if e[3] else 'FALSE'}"
            for i, e in enumerate(_WC_EXPECT)
        )
        + " END"
    )
    payload = (
        f"CASE WHEN doc_id % 10 <= 6 THEN {page} "
        f"WHEN doc_id % 10 = 7 THEN '{q(_WC_DEFLATE_TEXT)}' "
        f"WHEN doc_id % 10 = 8 THEN '{q(_WC_GZIP_TEXT)}' "
        f"ELSE NULL END"
    )
    return f"""
    WITH pg AS MATERIALIZED (
        SELECT doc_id, {page} AS page FROM documents
    ),
    env AS (
        SELECT doc_id,
               200 AS http_status,
               {expect_case(0)} AS content_type,
               {expect_case(1)} AS charset,
               {expect_case(2)} AS charset_src,
               CAST({clen} AS BIGINT) AS content_length,
               {text_like} AS text_like,
               {payload} AS payload
        FROM pg JOIN documents USING (doc_id)
    )
    SELECT doc_id, http_status, content_type, charset, charset_src,
           content_length, text_like,
           CAST(CASE WHEN payload IS NOT NULL
                     THEN len(regexp_split_to_array(payload, '\\s+'))
                END AS INT) AS n_words,
           CASE WHEN payload IS NOT NULL THEN md5(payload) END AS payload_fp,
           TRUE AS valid
    FROM env
    ORDER BY doc_id"""


QUERIES["src_warc_charsets"] = src_warc_charsets
ORACLES["src_warc_charsets"] = _warc_charsets_sql()


# ---------------------------------------------------------------------------
# src_warc_revisit — WARC revisit records + digest-keyed ZERO-decode dedup
# ---------------------------------------------------------------------------

#: multi-byte salt inside every shared body (bytes != chars, so the
#: revisit records' Content-Length math stays honest)
_RV_SALT = "—漢字 "
_RV_PRE = "shared body of group "


def src_warc_revisit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ``revisit`` records + ``WARC-Payload-Digest`` (r14,
    VERDICT r13 item 5): real crawl archives dedup at WRITE time —
    when a fetch's payload digest matches an earlier capture, the
    archive stores a ``revisit`` record carrying the digest and NO
    body. The fixture groups every three consecutive documents onto
    one shared body: the group head is a full ``response`` (digest
    header = ``md5:<hex of the body bytes>``), the other two are
    ``revisit`` records with the same digest and Content-Length 0.
    The query is the cheapest dedup tier there is — group by
    ``payload_digest``, NO payload decode needed — and verifies the
    digest against the response payload's actual fingerprint
    (``digest_consistent``), i.e. digest dedup == text-fingerprint
    dedup on the same corpus. One fingerprint-keyed shuffle,
    skew-free at any scale. DuckDB derives digests, group sizes, and
    consistency from the same shared constants."""
    from automated_datastore_discovery_with_aws_glue_spark.sources.warc import warc_records

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    grp = (F.col("doc_id") - (F.col("doc_id") % 3)).cast("string")
    body = F.concat(F.lit(_RV_PRE), grp, F.lit(" "), F.lit(_RV_SALT))
    digest = F.concat(F.lit("md5:"), F.md5(F.encode(body, "UTF-8")))
    is_head = F.col("doc_id") % 3 == 0
    head_http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\n\r\n"),
        body,
    )
    rec = F.when(
        is_head,
        TX.let(
            F.encode(head_http, "UTF-8"),
            lambda m: F.concat(
                F.encode(
                    F.concat(
                        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: urn:doc:"),
                        did,
                        F.lit("\r\nWARC-Payload-Digest: "),
                        digest,
                        F.lit("\r\nContent-Length: "),
                        F.length(m).cast("string"),
                        F.lit("\r\n\r\n"),
                    ),
                    "UTF-8",
                ),
                m,
                F.encode(F.lit("\r\n\r\n"), "UTF-8"),
            ),
        ),
    ).otherwise(
        F.encode(
            F.concat(
                F.lit("WARC/1.0\r\nWARC-Type: revisit\r\nWARC-Target-URI: urn:doc:"),
                did,
                F.lit("\r\nWARC-Payload-Digest: "),
                digest,
                F.lit("\r\nContent-Length: 0\r\n\r\n\r\n\r\n"),
            ),
            "UTF-8",
        )
    )
    per = docs.select(
        (F.col("doc_id") % _WARC_CONTAINERS).alias("cid"),
        "doc_id",
        F.decode(rec, "ISO-8859-1").alias("rec"),
    )
    containers = per.groupBy("cid").agg(
        F.encode(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "rec"))),
                    lambda s: s["rec"],
                ),
                "",
            ),
            "ISO-8859-1",
        ).alias("wdata")
    )
    recs = warc_records(containers, "wdata", http_envelope=True)
    # digest-keyed dedup: one shuffle on the digest, ZERO payload
    # decode needed for the revisit side; the response side's actual
    # body fingerprint must agree with the digest it declared
    per_rec = recs.select(
        "payload_digest",
        F.regexp_extract("target_uri", r"urn:doc:(\d+)", 1)
        .cast("bigint")
        .alias("doc_id"),
        (F.col("warc_type") == "response").alias("is_resp"),
        F.when(
            (F.col("warc_type") == "response") & F.col("payload").isNotNull(),
            F.md5(F.col("payload").cast("binary")) == F.regexp_replace(
                "payload_digest", r"^md5:", ""
            ),
        ).alias("_ok"),
    )
    return (
        per_rec.groupBy("payload_digest")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum(F.col("is_resp").cast("bigint")).alias("n_responses"),
            F.sum((~F.col("is_resp")).cast("bigint")).alias("n_revisits"),
            F.min("doc_id").alias("head_doc"),
            F.min(F.when(F.col("is_resp"), F.col("_ok"))).alias("digest_consistent"),
        )
        .orderBy("payload_digest")
    )


def _warc_revisit_sql() -> str:
    q = _sql_quote
    body = f"'{q(_RV_PRE)}' || (doc_id - (doc_id % 3)) || ' ' || '{q(_RV_SALT)}'"
    return f"""
    WITH r AS (
        SELECT doc_id,
               'md5:' || md5({body}) AS payload_digest,
               (doc_id % 3 = 0) AS is_resp
        FROM documents
    )
    SELECT payload_digest,
           CAST(count(*) AS BIGINT) AS n_records,
           CAST(sum(CASE WHEN is_resp THEN 1 ELSE 0 END) AS BIGINT) AS n_responses,
           CAST(sum(CASE WHEN is_resp THEN 0 ELSE 1 END) AS BIGINT) AS n_revisits,
           min(doc_id) AS head_doc,
           TRUE AS digest_consistent
    FROM r
    GROUP BY payload_digest
    ORDER BY payload_digest"""


QUERIES["src_warc_revisit"] = src_warc_revisit
ORACLES["src_warc_revisit"] = _warc_revisit_sql()


# ---------------------------------------------------------------------------
# corpus_recrawl_plan — caching validators -> revalidation schedule (r14b)
# ---------------------------------------------------------------------------

#: deterministic "now" for age math (both engines share the constant —
#: a wall-clock now would make the oracle unreproducible)
_RP_NOW = "2024-03-01"
#: fixed Last-Modified constants with CORRECT weekday names (java.time
#: parses EEE strictly — a wrong weekday is a parse failure, so the
#: fixture uses verified full dates, never synthesized day arithmetic)
_RP_HOT = "Tue, 20 Feb 2024 10:00:00 GMT"     # 10 days before now
_RP_COLD = "Thu, 15 Jun 2023 08:30:00 GMT"    # 260 days before now
_RP_WARM = "Mon, 01 Jan 2024 00:00:00 GMT"    # 60 days before now
_RP_BAD = "yesterday-ish"                      # unparseable, loud-NULL
#: HTTP-date formats.  Spark 3+ BANS day-of-week symbols ('E') in
#: PARSING patterns (java.time policy), so the Spark side gates the
#: weekday token with a regex and parses the remainder; DuckDB's
#: ``%a`` likewise accepts any valid abbreviation without
#: cross-checking it against the date — identical semantics: the
#: token must be a well-formed weekday NAME, not the correct one.
_RP_WDAY_RE = r"^(Mon|Tue|Wed|Thu|Fri|Sat|Sun), "
_RP_FMT_SPARK = "dd MMM yyyy HH:mm:ss 'GMT'"
_RP_FMT_DUCK = "%a, %d %b %Y %H:%M:%S GMT"
#: age thresholds (days) for the recrawl priority buckets
_RP_HOT_DAYS = 30
_RP_WARM_DAYS = 180

#: per-arm (status, etag template or None, last-modified or None)
_RP_ARMS: tuple[tuple[int, str | None, str | None], ...] = (
    (200, '"v{g}-abc"', _RP_HOT),      # strong ETag + hot page
    (200, 'W/"weak-{g}"', _RP_COLD),   # WEAK ETag + cold page
    (200, None, _RP_WARM),             # Last-Modified only
    (200, None, None),                 # no validators at all
    (200, None, _RP_BAD),              # unparseable date -> lm useless
    (404, None, None),                 # dead page, leaves the plan
)


def corpus_recrawl_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl planning from HTTP caching validators (r14b): the
    engine's fingerprint-skip recrawl discipline applied to the web —
    a scheduler holding ``ETag`` / ``Last-Modified`` revalidates with
    If-None-Match / If-Modified-Since instead of refetching bodies.
    Each document's fetch is framed as a WARC response whose envelope
    carries one validator combination (strong ETag + fresh date, weak
    ETag + stale date, date-only, none, an UNPARSEABLE date that must
    quarantine to NULL age rather than guess, and a 404 that leaves
    the plan); the envelope scan surfaces ``http_etag`` /
    ``http_last_modified``, the date parses under the strict HTTP-date
    format against a FIXED reference day, and the plan assigns
    ``revalidate`` (if-none-match > if-modified-since > unconditional;
    ETag wins when both exist — it is the stronger validator) and an
    age-bucket ``priority`` (hot/warm/cold; 'unknown' without a date,
    'dead' on non-200). All map-side JVM expressions after the
    per-container scan; DuckDB replays the arms, the strptime, the
    age math, and both CASE ladders."""
    from automated_datastore_discovery_with_aws_glue_spark.sources.warc import warc_records

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    g = (F.col("doc_id") % 200).cast("string")
    arm = F.col("doc_id") % len(_RP_ARMS)
    status = None
    etag = None
    lm = None
    for i, (st, et, l) in enumerate(_RP_ARMS):
        status = F.when(arm == i, F.lit(st)) if status is None else status.when(arm == i, F.lit(st))
        if et is None:
            e_branch = F.lit(None).cast("string")
        else:
            parts = et.split("{g}")
            e_branch = F.concat(F.lit(parts[0]), g, F.lit(parts[1]))
        etag = F.when(arm == i, e_branch) if etag is None else etag.when(arm == i, e_branch)
        l_branch = F.lit(l).cast("string") if l is not None else F.lit(None).cast("string")
        lm = F.when(arm == i, l_branch) if lm is None else lm.when(arm == i, l_branch)
    reason = F.when(status == 200, F.lit("OK")).otherwise(F.lit("Not Found"))
    head = F.concat(
        F.lit("HTTP/1.1 "),
        status.cast("string"),
        F.lit(" "),
        reason,
        F.when(etag.isNotNull(), F.concat(F.lit("\r\nETag: "), etag)).otherwise(F.lit("")),
        F.when(lm.isNotNull(), F.concat(F.lit("\r\nLast-Modified: "), lm)).otherwise(F.lit("")),
        F.lit("\r\nContent-Type: text/plain; charset=utf-8\r\n\r\nrecrawl fixture body"),
    )
    msg = F.encode(head, "UTF-8")

    def rec_over(m: F.Column) -> F.Column:
        return F.concat(
            F.encode(
                F.concat(
                    F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: urn:doc:"),
                    did,
                    F.lit("\r\nContent-Length: "),
                    F.length(m).cast("string"),
                    F.lit("\r\n\r\n"),
                ),
                "UTF-8",
            ),
            m,
            F.encode(F.lit("\r\n\r\n"), "UTF-8"),
        )

    per = docs.select(
        (F.col("doc_id") % _WARC_CONTAINERS).alias("cid"),
        "doc_id",
        F.decode(TX.let(msg, rec_over), "ISO-8859-1").alias("rec"),
    )
    containers = per.groupBy("cid").agg(
        F.encode(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "rec"))),
                    lambda s: s["rec"],
                ),
                "",
            ),
            "ISO-8859-1",
        ).alias("wdata")
    )
    recs = warc_records(containers, "wdata", http_envelope=True)
    parsed = F.when(
        F.col("http_last_modified").rlike(_RP_WDAY_RE),
        F.try_to_timestamp(
            F.substring(F.col("http_last_modified"), 6, 1_000),
            F.lit(_RP_FMT_SPARK),
        ),
    )
    age = F.datediff(F.lit(_RP_NOW).cast("date"), parsed.cast("date"))
    alive = F.col("http_status") == 200
    return recs.select(
        F.regexp_extract("target_uri", r"urn:doc:(\d+)", 1)
        .cast("bigint")
        .alias("doc_id"),
        "http_status",
        F.col("http_etag").alias("etag"),
        F.col("http_last_modified").alias("last_modified"),
        age.cast("int").alias("age_days"),
        F.when(~alive, F.lit(None).cast("string"))
        .when(F.col("http_etag").isNotNull(), F.lit("if-none-match"))
        .when(parsed.isNotNull(), F.lit("if-modified-since"))
        .otherwise(F.lit("unconditional"))
        .alias("revalidate"),
        F.when(~alive, F.lit("dead"))
        .when(age.isNull(), F.lit("unknown"))
        .when(age <= _RP_HOT_DAYS, F.lit("hot"))
        .when(age <= _RP_WARM_DAYS, F.lit("warm"))
        .otherwise(F.lit("cold"))
        .alias("priority"),
    ).orderBy("doc_id")


def _recrawl_plan_sql() -> str:
    q = _sql_quote
    et_arms, lm_arms, st_arms = [], [], []
    for i, (st, et, l) in enumerate(_RP_ARMS):
        st_arms.append(f"WHEN {i} THEN {st}")
        if et is None:
            et_arms.append(f"WHEN {i} THEN NULL")
        else:
            parts = et.split("{g}")
            et_arms.append(
                f"WHEN {i} THEN '{q(parts[0])}' || (doc_id % 200) || '{q(parts[1])}'"
            )
        lm_arms.append(f"WHEN {i} THEN " + ("NULL" if l is None else f"'{q(l)}'"))
    n = len(_RP_ARMS)
    status = f"CASE doc_id % {n} " + " ".join(st_arms) + " END"
    etag = f"CASE doc_id % {n} " + " ".join(et_arms) + " END"
    lm = f"CASE doc_id % {n} " + " ".join(lm_arms) + " END"
    return f"""
    WITH r AS (
        SELECT doc_id,
               {status} AS http_status,
               {etag} AS etag,
               {lm} AS last_modified
        FROM documents
    ),
    p AS (
        SELECT *,
               CAST(try_strptime(last_modified, '{_RP_FMT_DUCK}') AS DATE)
                   AS lm_date
        FROM r
    ),
    a AS (
        SELECT *,
               CAST(CASE WHEN lm_date IS NOT NULL
                         THEN date_diff('day', lm_date, DATE '{_RP_NOW}')
                    END AS INT) AS age_days
        FROM p
    )
    SELECT doc_id, http_status, etag, last_modified, age_days,
           CASE WHEN http_status <> 200 THEN NULL
                WHEN etag IS NOT NULL THEN 'if-none-match'
                WHEN lm_date IS NOT NULL THEN 'if-modified-since'
                ELSE 'unconditional' END AS revalidate,
           CASE WHEN http_status <> 200 THEN 'dead'
                WHEN age_days IS NULL THEN 'unknown'
                WHEN age_days <= {_RP_HOT_DAYS} THEN 'hot'
                WHEN age_days <= {_RP_WARM_DAYS} THEN 'warm'
                ELSE 'cold' END AS priority
    FROM a
    ORDER BY doc_id"""


QUERIES["corpus_recrawl_plan"] = corpus_recrawl_plan
ORACLES["corpus_recrawl_plan"] = _recrawl_plan_sql()


# ---------------------------------------------------------------------------
# corpus_redirect_chains — multi-hop frontier consolidation (r14b)
# ---------------------------------------------------------------------------

#: chain-walk hop cap (shared by both engines' unrolls)
_RC_HOPS = 4


def corpus_redirect_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop redirect resolution (r14b): consolidate the crawl
    frontier by walking redirect edges to their FINAL targets —
    ``A -> B -> C`` must fetch and dedup as ``C``. The edge set
    derives from the shared redirect fixture (each 3xx doc's canonical
    URL -> its resolved Location) EXTENDED with deeper tiers on the
    origin-relative arm: ``/moved/g -> /hop2/g`` for every g,
    ``-> /hop3/g`` on even g, and two more tiers on g % 10 == 0 so the
    walk from those starts is still unresolved at the 4-hop cap; the
    self-redirect arm pins immediate-loop detection and the dotted arm
    gains a back-edge (``/up/g -> start``) pinning 2-cycle detection.
    ``operators/web.redirect_chains`` walks with a STATIC 4-level
    unroll — bounded shuffles on high-cardinality URL keys, no
    driver iteration — and DuckDB replays the identical unroll
    (list-path cycle detection and the exact-at-cap distinction
    between 'ok' and 'cap')."""
    docs = load_table(spark, sf_dir, "documents")
    raw = _raw_url()
    loc = _rf_location()
    base = docs.select(
        "doc_id",
        (F.col("doc_id") % len(_RF_ARMS)).alias("_arm"),
        (F.col("doc_id") % 200).alias("_g"),
        W.url_normalize(raw).alias("_start"),
        TX.let(
            W.url_resolve(raw, loc),
            lambda r: W.url_normalize(r),
        ).alias("_dst"),
    )
    t1 = base.filter(
        F.col("_start").isNotNull() & F.col("_dst").isNotNull()
    ).select(F.col("_start").alias("src"), F.col("_dst").alias("dst"))
    moved = base.filter((F.col("_arm") == 1) & F.col("_dst").isNotNull())
    t2 = moved.select(
        F.col("_dst").alias("src"),
        F.replace(F.col("_dst"), F.lit("/moved/"), F.lit("/hop2/")).alias("dst"),
    )
    t3 = moved.filter(F.col("_g") % 2 == 0).select(
        F.replace(F.col("_dst"), F.lit("/moved/"), F.lit("/hop2/")).alias("src"),
        F.replace(F.col("_dst"), F.lit("/moved/"), F.lit("/hop3/")).alias("dst"),
    )
    deep = moved.filter(F.col("_g") % 10 == 0)
    t4 = deep.select(
        F.replace(F.col("_dst"), F.lit("/moved/"), F.lit("/hop3/")).alias("src"),
        F.replace(F.col("_dst"), F.lit("/moved/"), F.lit("/hop4/")).alias("dst"),
    )
    t5 = deep.select(
        F.replace(F.col("_dst"), F.lit("/moved/"), F.lit("/hop4/")).alias("src"),
        F.replace(F.col("_dst"), F.lit("/moved/"), F.lit("/hop5/")).alias("dst"),
    )
    back = base.filter(
        (F.col("_arm") == 3) & F.col("_start").isNotNull() & F.col("_dst").isNotNull()
    ).select(F.col("_dst").alias("src"), F.col("_start").alias("dst"))
    edges = t1.unionByName(t2).unionByName(t3).unionByName(t4).unionByName(t5).unionByName(back)
    # truncate lineage before the unrolled walk: every hop level (and
    # the final membership join) references the edge table, and each
    # reference would otherwise carry the whole resolve/normalize
    # expression tree through analysis again (persist dedups the
    # COMPUTE, not the analyzer cost — measured ~2x wall-clock)
    edges = edges.localCheckpoint(eager=False)
    own(edges)
    out = W.redirect_chains(edges, max_hops=_RC_HOPS)
    return out.select("start", "final_url", "n_hops", "status").orderBy("start")


def _redirect_chains_sql() -> str:
    loc_arms = []
    for i, (_, loc) in enumerate(_RF_ARMS):
        if loc is None:
            loc_arms.append(f"WHEN {i} THEN NULL")
        elif loc == "SELF":
            loc_arms.append(f"WHEN {i} THEN url")
        else:
            parts = loc.split("{g}")
            pieces = []
            for j, p in enumerate(parts):
                if j:
                    pieces.append("(doc_id % 200)")
                if p:
                    pieces.append(f"'{p}'")
            loc_arms.append(f"WHEN {i} THEN " + " || ".join(pieces))
    loc = f"CASE doc_id % {len(_RF_ARMS)} " + " ".join(loc_arms) + " END"
    # hop-level unroll shared shape: see operators/web.redirect_chains
    hop = """h{n} AS (
        SELECT h.start,
               CASE WHEN e.dst IS NOT NULL THEN e.dst ELSE h.cur END AS cur,
               CASE WHEN e.dst IS NOT NULL THEN h.n_hops + 1 ELSE h.n_hops END AS n_hops,
               CASE WHEN e.dst IS NOT NULL THEN list_append(h.path, h.cur) ELSE h.path END AS path,
               (h.lp OR (e.dst IS NOT NULL AND
                   (list_contains(h.path, e.dst) OR e.dst = h.cur))) AS lp,
               (h.done OR (NOT h.done AND NOT h.lp AND e.dst IS NULL)) AS done
        FROM h{p} h LEFT JOIN ed e
          ON (NOT h.done AND NOT h.lp AND h.cur = e.src)
    )"""
    unroll = ",\n    ".join(
        hop.format(n=i + 2, p=i + 1) for i in range(_RC_HOPS - 1)
    )
    final = f"h{_RC_HOPS}"
    return (
        "WITH " + _sql_url_ctes() + f""",
    rf AS (
        SELECT doc_id, doc_id % {len(_RF_ARMS)} AS arm, doc_id % 200 AS g,
               url, {loc} AS location
        FROM u
    ),
    rs AS (
        SELECT *, {_sql_url_resolve("url", "location")} AS resolved FROM rf
    ),
    rx AS MATERIALIZED (
        SELECT doc_id, arm, g,
               (SELECT nn.url_norm FROM nn WHERE nn.doc_id = rs.doc_id) AS start,
               {_sql_url_norm_core(f"({_sql_pct_normalize('resolved')})")} AS dst
        FROM rs
    ),
    ed AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM (
            SELECT start AS src, dst FROM rx
            WHERE start IS NOT NULL AND dst IS NOT NULL
            UNION ALL
            SELECT dst AS src, replace(dst, '/moved/', '/hop2/') AS dst
            FROM rx WHERE arm = 1 AND dst IS NOT NULL
            UNION ALL
            SELECT replace(dst, '/moved/', '/hop2/'),
                   replace(dst, '/moved/', '/hop3/')
            FROM rx WHERE arm = 1 AND dst IS NOT NULL AND g % 2 = 0
            UNION ALL
            SELECT replace(dst, '/moved/', '/hop3/'),
                   replace(dst, '/moved/', '/hop4/')
            FROM rx WHERE arm = 1 AND dst IS NOT NULL AND g % 10 = 0
            UNION ALL
            SELECT replace(dst, '/moved/', '/hop4/'),
                   replace(dst, '/moved/', '/hop5/')
            FROM rx WHERE arm = 1 AND dst IS NOT NULL AND g % 10 = 0
            UNION ALL
            SELECT dst AS src, start AS dst
            FROM rx WHERE arm = 3 AND start IS NOT NULL AND dst IS NOT NULL
        )
    ),
    h1 AS (
        SELECT src AS start, dst AS cur, 1 AS n_hops, [src] AS path,
               (dst = src) AS lp, FALSE AS done
        FROM ed
    ),
    {unroll},
    mr AS (SELECT DISTINCT src FROM ed)
    SELECT f.start, f.cur AS final_url, CAST(f.n_hops AS INT) AS n_hops,
           CASE WHEN f.lp THEN 'loop'
                WHEN f.done OR m.src IS NULL THEN 'ok'
                ELSE 'cap' END AS status
    FROM {final} f LEFT JOIN mr m ON f.cur = m.src
    ORDER BY f.start"""
    )


QUERIES["corpus_redirect_chains"] = corpus_redirect_chains
ORACLES["corpus_redirect_chains"] = _redirect_chains_sql()


# ---------------------------------------------------------------------------
# corpus_link_graph — in-page anchor discovery -> host-level link graph (r14b)
# ---------------------------------------------------------------------------

#: per-arm HTML bodies ({g} = doc group, {x} = a NEIGHBOR host index) —
#: together they pin every anchor form a crawler meets: double- and
#: single-quoted hrefs, origin-/path-relative and dot-segment targets,
#: protocol-relative, query-only (self-host), rel=nofollow, the
#: non-fetchable mailto:/javascript: schemes, fragment-only, and a
#: page with no anchors at all
_LG_ARMS: tuple[str, ...] = (
    '<p>intro {g}</p><a href="/local/{g}">in</a> '
    '<a href="https://site{x}.example/abs/{g}">out</a> '
    '<a href="page{g}.html">self</a>',
    "<div><a href='rel/{g}.html'>deeper</a></div> "
    '<a href="mailto:user@example.org">mail</a>',
    '<a rel="nofollow" href="https://ads.example/{g}">spam</a> '
    '<a href="#top">anchor</a>',
    '<A HREF="//cdn.example/asset/{g}">cdn</A> '
    '<a href="JAVASCRIPT:void(0)">js</a>',
    '<a href="../up/{g}">up</a> <a href="?page=2">next</a>',
    "<p>terminal page {g} with no outgoing links</p>",
    # r14c: a <base href> page — the (protocol-relative) base replaces
    # the page URL as the resolution base for EVERY relative href, so
    # both anchors land on the mirror host (which publishes no robots
    # file downstream — the frontier's no-robots branch)
    '<base href="//mirror{x}.example/m/">'
    '<a href="a/{g}">based</a> <a href="/root/{g}">rooted</a>',
    # r14c: a hub link every eighth page carries (8 arms against 7
    # hosts keeps arm and host indices decorrelated, gcd(8,7)=1) —
    # ONE hub URL per target site, so these frontier URLs carry
    # discovery counts well above 1 at every sf
    '<a href="https://site{x}.example/hub">hub</a>',
)
#: fixture host fan: 7 sites, each page's "external" arm points at the
#: NEXT site (a ring), so the host graph has both internal and
#: cross-host edges at every sf
_LG_HOSTS = 7


def _lg_tpl(tpl: str, g: F.Column, x: F.Column) -> F.Column:
    import re as _re

    pieces: list[F.Column] = []
    for part in _re.split(r"(\{[gx]\})", tpl):
        if not part:
            continue
        if part == "{g}":
            pieces.append(g)
        elif part == "{x}":
            pieces.append(x)
        else:
            pieces.append(F.lit(part))
    return F.concat(*pieces) if len(pieces) > 1 else pieces[0]


def corpus_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-page frontier discovery -> host-level link graph (r14b): the
    third discovery channel next to sitemap locs and 3xx Locations —
    every page's ``<a href>`` anchors extracted
    (``operators/web.extract_anchors``: double-/single-quoted forms,
    rel=nofollow flag), non-fetchable targets dropped BEFORE
    resolution (empty, fragment-only, mailto:/javascript:/tel:/data:),
    the rest resolved against the page's own URL (RFC 3986 — hrefs
    are usually relative) and aggregated into weighted host->host
    edges with internal/external and nofollow accounting — the edge
    table :func:`graph_pagerank`-shape ranking runs on.

    Scale shape: extraction and resolution are map-side JVM
    expressions riding whole-stage codegen (zero Python); the explode
    multiplies rows by anchors-per-page (bounded, ~links-per-doc);
    the ONLY data-scale shuffle is the final (src_host, dst_host)
    aggregate — a host-cardinality key, partial-aggregated map-side.
    DuckDB replays the templates, both href regexes, the nofollow
    flag, the scheme gate, and the full resolution algorithm."""
    edges = _lg_edge_frame(spark, sf_dir)
    return (
        edges.groupBy("src_host", "dst_host")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.sum(F.col("nofollow").cast("int")).cast("bigint").alias("n_nofollow"),
        )
        .select(
            "src_host",
            "dst_host",
            (F.col("src_host") == F.col("dst_host")).alias("internal"),
            "n_links",
            "n_nofollow",
        )
        .orderBy("src_host", "dst_host")
    )


def _lg_edge_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared anchor-edge derivation: fixture pages -> extracted
    anchors -> fetchability gate -> resolved ``(src_host, dst_host,
    nofollow)`` rows (pre-aggregation; shared by the link-graph
    aggregate and the host-rank composition)."""
    fetchable = _lg_anchor_frame(spark, sf_dir)
    return fetchable.select(
        W.url_host(F.col("page_url")).alias("src_host"),
        TX.let(
            W.url_resolve(F.col("base_url"), F.col("href")),
            lambda r: W.url_host(r),
        ).alias("dst_host"),
        "nofollow",
    )


def _lg_page() -> F.Column:
    """The fixture page URL per doc — already in canonical form (https,
    bare lowercase host, no default port / fragment / trailing slash),
    so it doubles as the crawled-set key without re-normalizing."""
    g = (F.col("doc_id") % 200).cast("string")
    h = (F.col("doc_id") % _LG_HOSTS).cast("string")
    return F.concat(
        F.lit("https://site"), h, F.lit(".example/d"),
        (F.col("doc_id") % 200 % 10).cast("string"),
        F.lit("/page"), g, F.lit(".html"),
    )


def _lg_anchor_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture pages -> extracted anchors -> fetchability gate:
    ``(page_url, base_url, href, nofollow)`` rows, hrefs still as
    written. ``base_url`` is the page's RESOLUTION base: the first
    ``<base href>`` value resolved against the page URL (it is legally
    relative) when the page declares one, the page URL itself
    otherwise — relative anchors must resolve against it, never
    blindly against the page (r14c)."""
    docs = load_table(spark, sf_dir, "documents")
    g = (F.col("doc_id") % 200).cast("string")
    x = ((F.col("doc_id") % _LG_HOSTS + 1) % _LG_HOSTS).cast("string")
    arm = F.col("doc_id") % len(_LG_ARMS)
    html = None
    for i, tpl in enumerate(_LG_ARMS):
        branch = _lg_tpl(tpl, g, x)
        html = F.when(arm == i, branch) if html is None else html.when(arm == i, branch)
    page = _lg_page()
    # the html expression is a wide when-chain referenced twice (anchor
    # extraction + base extraction) — let-bound so it evaluates once
    pre = docs.select(
        page.alias("page_url"),
        TX.let(
            html,
            lambda hh: F.struct(
                W.extract_anchors(hh).alias("anchors"),
                W.base_href(hh).alias("base"),
            ),
        ).alias("hx"),
    ).select(
        "page_url",
        F.when(
            F.col("hx.base") != "",
            TX.let(
                W.url_resolve(F.col("page_url"), F.col("hx.base")), lambda b: b
            ),
        )
        .otherwise(F.col("page_url"))
        .alias("base_url"),
        F.explode(F.col("hx.anchors")).alias("a"),
    )
    anchors = pre.select(
        "page_url",
        "base_url",
        F.col("a.href").alias("href"),
        F.col("a.nofollow").alias("nofollow"),
    )
    return anchors.filter(
        (F.col("href") != "")
        & ~F.col("href").startswith("#")
        & ~F.col("href").rlike(W.NOFETCH_SCHEME_RE)
    )


def _lg_sql_edge_ctes() -> str:
    """The shared DuckDB replay of :func:`_lg_edge_frame` as a CTE
    chain ending in ``e(src_host, dst_host, nofollow)`` — used by the
    link-graph aggregate and the host-rank composition."""
    q = _sql_quote
    arms = []
    for i, tpl in enumerate(_LG_ARMS):
        import re as _re

        pieces = []
        for part in _re.split(r"(\{[gx]\})", tpl):
            if not part:
                continue
            if part == "{g}":
                pieces.append("g")
            elif part == "{x}":
                pieces.append("x")
            else:
                pieces.append(f"'{q(part)}'")
        arms.append(f"WHEN {i} THEN " + " || ".join(pieces))
    html = f"CASE doc_id % {len(_LG_ARMS)} " + " ".join(arms) + " END"
    href = "CASE WHEN dq <> '' THEN dq ELSE sq END"
    base_res = _sql_url_resolve("page_url", "b0")
    resolved = _sql_url_resolve("base_url", "href")
    return f"""d AS (
        SELECT doc_id, doc_id % 200 AS g, doc_id % {_LG_HOSTS} AS h,
               (doc_id % {_LG_HOSTS} + 1) % {_LG_HOSTS} AS x
        FROM documents
    ),
    p AS (
        SELECT 'https://site' || h || '.example/d' || (g % 10) ||
                   '/page' || g || '.html' AS page_url,
               {html} AS html
        FROM d
    ),
    pb AS (
        SELECT page_url, html,
               regexp_extract(html, '{q(W.BASE_HREF_RE)}', 1) AS b0
        FROM p
    ),
    pb2 AS (
        SELECT page_url, html,
               CASE WHEN b0 <> '' THEN {base_res} ELSE page_url END AS base_url
        FROM pb
    ),
    t AS (
        SELECT page_url, base_url,
               unnest(regexp_extract_all(html, '{q(W.ANCHOR_TAG_RE)}', 0)) AS tag
        FROM pb2
    ),
    a AS (
        SELECT page_url, base_url,
               regexp_extract(tag, '{q(W.HREF_DQ_RE)}', 1) AS dq,
               regexp_extract(tag, '{q(W.HREF_SQ_RE)}', 1) AS sq,
               regexp_matches(tag, '{q(W.NOFOLLOW_RE)}') AS nofollow
        FROM t
    ),
    f AS (
        SELECT page_url, base_url, {href} AS href, nofollow
        FROM a
        WHERE {href} <> ''
          AND NOT starts_with({href}, '#')
          AND NOT regexp_matches({href}, '{q(W.NOFETCH_SCHEME_RE)}')
    ),
    e AS (
        SELECT {_sql_url_host_expr("page_url")} AS src_host,
               {_sql_url_host_expr(f"({resolved})")} AS dst_host,
               nofollow
        FROM f
    )"""


def _link_graph_sql() -> str:
    return f"""
    WITH {_lg_sql_edge_ctes()}
    SELECT src_host, dst_host, (src_host = dst_host) AS internal,
           CAST(count(*) AS BIGINT) AS n_links,
           CAST(sum(CASE WHEN nofollow THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nofollow
    FROM e
    GROUP BY src_host, dst_host
    ORDER BY src_host, dst_host"""


QUERIES["corpus_link_graph"] = corpus_link_graph
ORACLES["corpus_link_graph"] = _link_graph_sql()


# ---------------------------------------------------------------------------
# corpus_host_rank — anchor edges -> integer PageRank host authority (r14b)
# ---------------------------------------------------------------------------

_HR_ITERS = 5


def corpus_host_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host authority from the crawl's own link graph (r14b): the
    composition the link-graph row exists for — anchor edges feed the
    integer-quantized PageRank operator (``operators/graph.pagerank``,
    ranks in 1e-12 mass units, every step exact integer arithmetic).
    Web-ranking semantics applied at the edge gate: INTERNAL links
    confer no authority (src == dst dropped) and neither do
    ``rel=nofollow`` links — that is the attribute's entire purpose.
    The fixture graph is a 7-site ring plus a shared CDN host with no
    outgoing links, so the dangling-mass redistribution path runs on
    every iteration. Scale shape: the data-scale work is the map-side
    extraction + the DISTINCT down to host-level edges; every PageRank
    iteration then shuffles edge-cardinality rows only (hosts, not
    pages). DuckDB replays extraction, the edge gate, and all five
    iterations bit-for-bit through materialized CTE stages."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.graph import pagerank

    edges = (
        _lg_edge_frame(spark, sf_dir)
        .filter(~F.col("nofollow") & (F.col("src_host") != F.col("dst_host")))
        .select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
    )
    # truncate lineage before iterating: pagerank references the edge
    # table across every round, and each round's plan would otherwise
    # carry (and the analyzer re-walk) the WHOLE extraction/resolution
    # expression tree — measured 6x the query's wall-clock. Host-level
    # edges are the compact derived table iterative graph algorithms
    # checkpoint by standard practice (executor-local here; a cluster
    # with unreliable executors would use a reliable checkpoint dir).
    edges = edges.localCheckpoint(eager=False)
    own(edges)
    ranks = pagerank(edges, iterations=_HR_ITERS)
    return ranks.orderBy(F.desc("rank_mass"), "node")


def _host_rank_sql() -> str:
    from automated_datastore_discovery_with_aws_glue_spark.operators.graph import (
        pagerank_oracle_sql,
    )

    edges = f"""WITH {_lg_sql_edge_ctes()}
        SELECT src_host AS src, dst_host AS dst FROM e
        WHERE NOT nofollow AND src_host <> dst_host"""
    sql = pagerank_oracle_sql(edges, iterations=_HR_ITERS)
    # total order (rank then node) so both engines cut ties identically
    return sql.replace("ORDER BY node", "ORDER BY rank_mass DESC, node")


QUERIES["corpus_host_rank"] = corpus_host_rank
ORACLES["corpus_host_rank"] = _host_rank_sql()


# ---------------------------------------------------------------------------
# corpus_crawl_cycle — the crawl loop as ONE plan (r14b capstone)
# ---------------------------------------------------------------------------

#: per host-class (host index % 3): the robots rule list and the
#: Crawl-delay directive (None = the host publishes no delay). Class 0
#: blocks the /up/ tree; class 1 blocks /local/ but carves /local/1*
#: back out (longest-rule precedence decides per URL); class 2 blocks
#: *.html$ by wildcard — which must NOT match an .html path carrying a
#: ?query (the anchor sees the full fetch target)
_CC_CLASSES: tuple[tuple[tuple[tuple[str, str], ...], str | None], ...] = (
    ((("disallow", "/up/"),), "1.5"),
    ((("disallow", "/local/"), ("allow", "/local/1")), None),
    ((("disallow", "/*.html$"),), "2"),
)
#: the CDN host denies all crawling — its discovered asset URLs must
#: survive to the report but never reach the schedule
_CC_CDN = ("cdn.example", (("disallow", "/"),), None)
_CC_DEFAULT_MS = 1000


def _cc_robots_hosts() -> list[tuple[str, tuple[tuple[str, str], ...], str | None]]:
    hosts = [
        (f"site{i}.example",) + _CC_CLASSES[i % len(_CC_CLASSES)]
        for i in range(_LG_HOSTS)
    ]
    hosts.append(_CC_CDN)
    return hosts


def _cc_robots_text(rules: tuple[tuple[str, str], ...], delay: str | None) -> str:
    lines = ["User-agent: *"]
    lines += [f"{r.capitalize()}: {p}" for r, p in rules]
    if delay is not None:
        lines.append(f"Crawl-delay: {delay}")
    return "\n".join(lines)


def corpus_crawl_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl loop as ONE plan (r14b capstone): fetched pages ->
    anchor extraction (fetchability + nofollow gates) -> RFC 3986
    resolution -> canonical frontier candidates, deduplicated with a
    discovery count -> known/new classification against the crawled
    set -> the TARGET host's robots verdict (REP longest-rule
    precedence incl. a wildcard rule that must see the ?query tail) ->
    per-host politeness schedule over the new allowed URLs (exact
    integer fetch slots; hosts schedule independently). One row per
    DISTINCT candidate URL: blocked and already-known URLs keep their
    verdict columns and NULL schedule columns.

    Scale shape: extraction/resolution map-side; dedup is one shuffle
    on the canonical URL (high-cardinality, skew-free); the robots
    fixture is per-host metadata built driver-side exactly like a real
    crawler's robots cache and BROADCAST into the verdict join; the
    known/new classify is a URL-key left join; the schedule window
    partitions by host only. DuckDB replays extraction, resolution,
    dedup, classification, the rule-precedence ladder, and the slot
    math — the rule table and delays generated from the SAME Python
    constants the Spark fixture parses via robots_rules."""
    anchors = _lg_anchor_frame(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    cand = (
        anchors.filter(~F.col("nofollow"))
        .select(
            TX.let(
                W.url_resolve(F.col("base_url"), F.col("href")),
                lambda r: W.url_normalize(r),
            ).alias("url")
        )
        .filter(F.col("url").isNotNull())
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("n_refs"))
        .select("url", W.url_host(F.col("url")).alias("host"), "n_refs")
    )
    crawled = docs.select(_lg_page().alias("url")).distinct()
    cand = cand.join(
        crawled.withColumn("_known", F.lit(True)), "url", "left"
    ).withColumn("known", F.coalesce(F.col("_known"), F.lit(False))).drop("_known")
    robots = spark.createDataFrame(
        [(h, _cc_robots_text(r, d)) for h, r, d in _cc_robots_hosts()],
        "host string, robots string",
    )
    rules = W.robots_rules(robots, "host", "robots")
    # NOT persisted: the verdict subtree feeds the schedule slice AND
    # the final spine join, but its dedup exchange is byte-identical on
    # both paths, so ReusedExchange already computes it once — an
    # explicit persist measured SLOWER (4.6 s vs 2.8 s: cache write +
    # two cache reads replaced a free plan-level reuse)
    verdict = W.robots_filter(
        cand.withColumn("target", W.url_raw_target(F.col("url"))),
        rules,
        id_col="url",
        path_col="target",
    ).drop("target")
    delays = W.robots_crawl_delay(robots, "host", "robots")
    new_allowed = verdict.filter(F.col("allowed") & ~F.col("known")).select(
        "url", "host"
    )
    sched = W.crawl_schedule(
        new_allowed, delays, id_col="url", default_delay_ms=_CC_DEFAULT_MS
    ).select("url", "seq", "delay_ms", "fetch_slot_ms")
    return (
        verdict.join(sched, "url", "left")
        .select(
            "url", "host", "n_refs", "known", "allowed", "matched_prefix",
            "seq", "delay_ms", "fetch_slot_ms",
        )
        .orderBy("url")
    )


def _cc_sql_pattern(prefix: str) -> str:
    """The RE2 literal for a wildcard REP rule — generated in Python
    from the same fixture constant the Spark side compiles via
    rep_pattern (fixture rules are ASCII with no %-escapes, so the
    pct-normalize step is identity here)."""
    out = "^"
    body = prefix
    anchored = body.endswith("$")
    if anchored:
        body = body[:-1]
    for ch in body:
        if ch == "*":
            out += ".*"
        elif ch in r"\.[]{}()+?^$|":
            out += "\\" + ch
        else:
            out += ch
    return out + ("$" if anchored else "")


def _crawl_cycle_sql() -> str:
    q = _sql_quote
    rule_rows = []
    delay_rows = []
    for host, rules, delay in _cc_robots_hosts():
        for rule, prefix in rules:
            wild = "TRUE" if ("*" in prefix or prefix.endswith("$")) else "FALSE"
            rule_rows.append(
                f"('{q(host)}', '{q(rule)}', '{q(prefix)}', {wild}, "
                f"'{q(_cc_sql_pattern(prefix))}')"
            )
        if delay is not None:
            import math as _math

            ms = _math.floor(float(delay) * 1000)
            delay_rows.append(f"('{q(host)}', {ms})")
    rules_sql = ",\n               ".join(rule_rows)
    delays_sql = ",\n               ".join(delay_rows)
    resolved = _sql_url_resolve("base_url", "href")
    url_norm = _sql_url_norm_core(f"({_sql_pct_normalize('resolvedu')})")
    return f"""
    WITH {_lg_sql_edge_ctes()},
    c0 AS (
        SELECT {resolved} AS resolvedu FROM f WHERE NOT nofollow
    ),
    c1 AS (
        SELECT {url_norm} AS url FROM c0
    ),
    cand AS (
        SELECT url, CAST(count(*) AS BIGINT) AS n_refs
        FROM c1 WHERE url IS NOT NULL GROUP BY url
    ),
    crawled AS MATERIALIZED (SELECT DISTINCT page_url FROM p),
    cl AS (
        SELECT c.url, {_sql_url_host_expr("c.url")} AS host, c.n_refs,
               (cr.page_url IS NOT NULL) AS known,
               regexp_extract(c.url, '{_URL_RE_SQL}', 3) ||
               CASE WHEN coalesce(regexp_extract(c.url, '{_URL_RE_SQL}', 4), '') = ''
                    THEN '' ELSE '?' || regexp_extract(c.url, '{_URL_RE_SQL}', 4)
               END AS target
        FROM cand c LEFT JOIN crawled cr ON c.url = cr.page_url
    ),
    rules(host, rule, prefix, wild, pat) AS (
        VALUES {rules_sql}
    ),
    dl(host, d) AS (
        VALUES {delays_sql}
    ),
    mt AS (
        SELECT cl.url, r.rule, r.prefix
        FROM cl JOIN rules r ON cl.host = r.host AND
             (CASE WHEN r.wild THEN regexp_matches(cl.target, r.pat)
                   ELSE starts_with(cl.target, r.prefix) END)
    ),
    bst AS (
        SELECT url, rule, prefix FROM mt
        QUALIFY row_number() OVER (PARTITION BY url
            ORDER BY strlen(prefix) DESC, (rule = 'allow') DESC, prefix DESC) = 1
    ),
    vd AS (
        SELECT cl.url, cl.host, cl.n_refs, cl.known,
               coalesce(b.rule = 'allow', TRUE) AS allowed,
               b.prefix AS matched_prefix
        FROM cl LEFT JOIN bst b USING (url)
    ),
    sched AS (
        SELECT v.url,
               CAST(row_number() OVER (PARTITION BY v.host ORDER BY v.url)
                    AS INT) AS seq,
               CAST(coalesce(dl.d, {_CC_DEFAULT_MS}) AS BIGINT) AS delay_ms
        FROM vd v LEFT JOIN dl ON v.host = dl.host
        WHERE v.allowed AND NOT v.known
    )
    SELECT v.url, v.host, v.n_refs, v.known, v.allowed, v.matched_prefix,
           s.seq, s.delay_ms,
           CAST((s.seq - 1) AS BIGINT) * s.delay_ms AS fetch_slot_ms
    FROM vd v LEFT JOIN sched s USING (url)
    ORDER BY v.url"""


QUERIES["corpus_crawl_cycle"] = corpus_crawl_cycle
ORACLES["corpus_crawl_cycle"] = _crawl_cycle_sql()


# ---------------------------------------------------------------------------
# corpus_canonical_dedup — rel=canonical as the dedup key (r14c)
# ---------------------------------------------------------------------------

#: per-arm (doc_id % 5) head markup: a cross-host canonical SHARED by
#: every page in a 50-wide group (the syndication shape), an
#: origin-relative canonical, a path-relative SELF canonical, no link
#: at all, and a stylesheet link the extractor must NOT fire on
_CD_ARMS: tuple[str, ...] = (
    '<head><link rel="canonical" href="https://canon.example/art/{gg}">'
    "<title>syndicated {g}</title></head>",
    "<head><link href='/art/{g}' rel='canonical'></head>",
    '<head><link rel="canonical" href="page{g}.html"></head>',
    "<head><title>no canonical {g}</title></head>",
    '<head><link rel="stylesheet" href="/css/x.css"></head>',
)


def corpus_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rel=canonical`` dedup (r14c): the page's self-declared
    canonical URL is the dedup signal real web pipelines key on —
    syndicated copies across hosts declare ONE canonical and must
    collapse to one kept page. Extraction handles both attribute
    orders (``operators/web.canonical_href``); the value is legally
    relative, so it resolves against the page URL, then normalizes;
    pages declaring no canonical (or only unrelated ``<link>`` tags —
    the stylesheet arm pins the non-firing case) key on themselves.
    ``keep`` = the lexicographically first page of each canonical
    group (deterministic survivor); ``is_self`` flags pages whose
    canonical is themselves. All map-side JVM expressions; the one
    data-scale shuffle is the canonical-key window — high-cardinality,
    skew-free. DuckDB replays the arms, both extraction regexes, the
    resolution, and the survivor rule."""
    docs = load_table(spark, sf_dir, "documents")
    g = (F.col("doc_id") % 200).cast("string")
    gg = (F.col("doc_id") % 200 % 50).cast("string")
    arm = F.col("doc_id") % len(_CD_ARMS)
    html = None
    for i, tpl in enumerate(_CD_ARMS):
        parts = []
        import re as _re

        for part in _re.split(r"(\{gg?\})", tpl):
            if not part:
                continue
            if part == "{g}":
                parts.append(g)
            elif part == "{gg}":
                parts.append(gg)
            else:
                parts.append(F.lit(part))
        branch = F.concat(*parts) if len(parts) > 1 else parts[0]
        html = F.when(arm == i, branch) if html is None else html.when(arm == i, branch)
    page = _lg_page()
    base = docs.select(
        page.alias("page_url"),
        TX.let(html, lambda hh: W.canonical_href(hh)).alias("c0"),
    )
    resolved = base.select(
        "page_url",
        (F.col("c0") != "").alias("declared"),
        F.when(
            F.col("c0") != "",
            TX.let(
                W.url_resolve(F.col("page_url"), F.col("c0")),
                lambda r: W.url_normalize(r),
            ),
        )
        .otherwise(F.col("page_url"))
        .alias("canonical_url"),
    )
    w = Window.partitionBy("canonical_url")
    return (
        resolved.withColumn("dup_count", F.count(F.lit(1)).over(w))
        .withColumn("keep", F.col("page_url") == F.min("page_url").over(w))
        .select(
            "page_url",
            "canonical_url",
            "declared",
            (F.col("canonical_url") == F.col("page_url")).alias("is_self"),
            "dup_count",
            "keep",
        )
        .orderBy("page_url")
    )


def _canonical_dedup_sql() -> str:
    q = _sql_quote
    arms = []
    for i, tpl in enumerate(_CD_ARMS):
        import re as _re

        pieces = []
        for part in _re.split(r"(\{gg?\})", tpl):
            if not part:
                continue
            if part == "{g}":
                pieces.append("g")
            elif part == "{gg}":
                pieces.append("(g % 50)")
            else:
                pieces.append(f"'{q(part)}'")
        arms.append(f"WHEN {i} THEN " + " || ".join(pieces))
    html = f"CASE doc_id % {len(_CD_ARMS)} " + " ".join(arms) + " END"
    c0 = (
        f"CASE WHEN regexp_extract(html, '{q(W.CANONICAL_RE)}', 1) <> '' "
        f"THEN regexp_extract(html, '{q(W.CANONICAL_RE)}', 1) "
        f"ELSE regexp_extract(html, '{q(W.CANONICAL_RE)}', 2) END"
    )
    resolved = _sql_url_resolve("page_url", "c0")
    norm = _sql_url_norm_core(f"({_sql_pct_normalize('(' + resolved + ')')})")
    return f"""
    WITH d AS (
        SELECT doc_id, doc_id % 200 AS g, doc_id % {_LG_HOSTS} AS h
        FROM documents
    ),
    p AS (
        SELECT 'https://site' || h || '.example/d' || (g % 10) ||
                   '/page' || g || '.html' AS page_url,
               {html} AS html
        FROM d
    ),
    c AS (
        SELECT page_url, {c0} AS c0 FROM p
    ),
    r AS (
        SELECT page_url, (c0 <> '') AS declared,
               CASE WHEN c0 <> '' THEN {norm} ELSE page_url END
                   AS canonical_url
        FROM c
    )
    SELECT page_url, canonical_url, declared,
           (canonical_url = page_url) AS is_self,
           CAST(count(*) OVER (PARTITION BY canonical_url) AS BIGINT)
               AS dup_count,
           (page_url = min(page_url) OVER (PARTITION BY canonical_url))
               AS keep
    FROM r
    ORDER BY page_url"""


QUERIES["corpus_canonical_dedup"] = corpus_canonical_dedup
ORACLES["corpus_canonical_dedup"] = _canonical_dedup_sql()
