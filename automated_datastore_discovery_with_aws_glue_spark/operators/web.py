"""URL / web-ingest operators (r11 beyond-parity surface).

The stage a web-scale pretraining pipeline runs BEFORE text cleaning:
URL canonicalization (RefinedWeb/FineWeb-style), exact URL dedup,
domain blocklisting, and per-domain document caps so head domains don't
dominate the mix.

All pure JVM-side expressions (regexp_extract / higher-order filters) —
no Python UDFs, so every operator rides whole-stage codegen. Every
regex and rule is shared verbatim with the DuckDB oracles in
``plans/llm_pipeline.py``.

Documented limits (each pytest-pinned):
- the parser expects absolute ``scheme://`` URLs; userinfo
  (``user:pass@``) is STRIPPED from the host — a blocklist keyed on
  the raw authority would be bypassable with ``trusted.com@evil.com``;
- percent-encoding is normalized RFC-3986-style by
  :func:`pct_normalize` (unreserved escapes decoded, remaining hex
  uppercased, invalid sequences quarantined to NULL) — but only inside
  :func:`url_normalize`; the fetch-time accessors (:func:`url_host`,
  :func:`url_raw_path`, :func:`url_raw_target`) stay byte-faithful to
  the URL as written, because robots matching and fetching happen
  BEFORE canonicalization;
- :func:`registered_domain` uses a small embedded two-part-suffix list;
  :func:`registered_domain_join` is the table-backed longest-match
  form for real public-suffix coverage.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from automated_datastore_discovery_with_aws_glue_spark.operators.text import let

#: second-level public suffixes the naive eTLD+1 splitter recognises —
#: ``host = a.b.<one of these>`` yields registered domain ``b.<suffix>``
TWO_PART_SUFFIXES: tuple[str, ...] = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "com.cn", "com.mx", "co.in", "co.kr", "co.nz", "com.sg",
)

#: query parameters dropped during normalization: pure click/campaign
#: trackers that never change the resource identity — with or without
#: a value ('?fbclid' alone must also normalize away). Case-insensitive
#: ('?UTM_SOURCE=x' is the same tracker): host/scheme are case-folded,
#: so case-variant tracker URLs must dedup with their clean twins too.
TRACKING_PARAM_RE = r"(?i)^(utm_[^=]*|fbclid|gclid|msclkid|mc_eid|igshid|ref)(=|$)"

#: trailing explicit port of an authority ('host:8080' -> 'host')
PORT_RE = r":\d+$"

#: RFC-3986-shaped splitter: scheme :// authority path ?query #fragment
URL_PARTS_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#(.*))?$"


def url_scheme(col: Column) -> Column:
    return F.lower(F.regexp_extract(col, URL_PARTS_RE, 1))


def url_host(col: Column) -> Column:
    """Lowercased HOST of the authority: userinfo (everything up to the
    last ``@``) stripped FIRST — a blocklist or per-domain cap keyed on
    the authority would otherwise be bypassable with an attacker-chosen
    ``trusted.com@evil.com`` prefix — then a leading ``www.`` stripped;
    default ports (``:80`` for http, ``:443`` for https) removed, any
    other explicit port kept."""
    host = F.regexp_replace(
        F.regexp_replace(F.lower(F.regexp_extract(col, URL_PARTS_RE, 2)), "^.*@", ""),
        r"^www\.",
        "",
    )
    scheme = url_scheme(col)
    return F.when(
        (scheme == "http") & host.endswith(":80"),
        F.substring(host, 1, F.length(host) - 3),
    ).when(
        (scheme == "https") & host.endswith(":443"),
        F.substring(host, 1, F.length(host) - 4),
    ).otherwise(host)


def url_path(col: Column) -> Column:
    """Canonical path: trailing slashes collapsed away, the empty path
    normalized to ``/`` (``http://h`` and ``http://h/`` are the same
    resource)."""
    p = F.regexp_replace(F.regexp_extract(col, URL_PARTS_RE, 3), "/+$", "")
    return F.when(p == "", F.lit("/")).otherwise(p)


def url_raw_path(col: Column) -> Column:
    """The FETCH-TIME path: as written in the URL, only the empty path
    normalized to ``/``. Robots matching must use this form — a
    directory rule like ``Disallow: /admin/`` matches ``/admin/`` but
    not the canonical ``/admin``, so matching against
    :func:`url_path`'s collapsed form would under-block."""
    p = F.regexp_extract(col, URL_PARTS_RE, 3)
    return F.when(p == "", F.lit("/")).otherwise(p)


def url_raw_target(col: Column) -> Column:
    """The FETCH-TIME match target for robots rules: the raw path plus
    ``?query`` when a query is present (REP rules are matched against
    path-and-query — ``Disallow: /*?sessionid=`` must be able to see
    the query), both exactly as written in the URL."""
    q = F.regexp_extract(col, URL_PARTS_RE, 4)
    return F.when(q == "", url_raw_path(col)).otherwise(
        F.concat(url_raw_path(col), F.lit("?"), q)
    )


#: one RFC-3986 percent-escape (two hex digits, either case)
PCT_ESCAPE_RE = r"%[0-9A-Fa-f]{2}"


def pct_normalize(col: Column) -> Column:
    """RFC-3986 percent-encoding normalization (section 6.2.2.2):
    escapes of UNRESERVED characters (ALPHA / DIGIT / ``-._~``) are
    decoded — ``%41`` is ``A``, ``%7e`` is ``~`` — and the hex of every
    remaining escape is uppercased (``%2f`` -> ``%2F``), so equivalent
    URLs stop being distinct frontier keys. Escapes of RESERVED
    characters are NOT decoded (``%2F`` is data, ``/`` is structure).
    A ``%`` not followed by two hex digits makes the whole value NULL
    — the same quarantine route unparseable URLs take.

    Pure higher-order expressions: split on ``%``, transform each
    segment (the two-hex prefix decides decode/uppercase), re-join.
    The no-``%`` fast path keeps the common case a single ``contains``
    — CASE arms are row-lazy, so clean URLs never pay for the split."""

    def body(u: Column) -> Column:
        def seg(s: Column) -> Column:
            hex2 = F.substring(s, 1, 2)
            code = F.conv(hex2, 16, 10).cast("int")
            unreserved = (
                ((code >= 65) & (code <= 90))
                | ((code >= 97) & (code <= 122))
                | ((code >= 48) & (code <= 57))
                | code.isin(45, 46, 95, 126)
            )
            return F.concat(
                F.when(unreserved, F.char(code)).otherwise(
                    F.concat(F.lit("%"), F.upper(hex2))
                ),
                s.substr(F.lit(3), F.length(s)),
            )

        parts = F.split(u, "%")
        decoded = F.concat(
            F.element_at(parts, 1),
            F.array_join(
                F.transform(F.slice(parts, 2, F.size(parts) - 1), seg), ""
            ),
        )
        valid = ~F.regexp_replace(u, PCT_ESCAPE_RE, "").contains("%")
        return F.when(~u.contains("%"), u).when(valid, decoded)

    return let(col, body)


def url_query_kept(col: Column) -> Column:
    """The query string with empty and tracking parameters removed,
    original parameter ORDER preserved (param order can be semantic;
    sorting would over-merge)."""
    q = F.regexp_extract(col, URL_PARTS_RE, 4)
    return F.array_join(
        F.filter(
            F.split(q, "&"),
            lambda t: (t != "") & ~t.rlike(TRACKING_PARAM_RE),
        ),
        "&",
    )


def url_normalize(col: Column) -> Column:
    """Canonical URL: percent-encoding normalized FIRST
    (:func:`pct_normalize` — decoding an unreserved escape can never
    create a delimiter, so it is safe before parsing, and it must run
    before the tracking-param filter so an escape-disguised tracker
    name like ``%66bclid`` still drops), then lowercased scheme and
    host, ``www.`` and default ports stripped, trailing path slashes
    collapsed, tracking params dropped (order of the survivors
    preserved), fragment dropped. Unparseable values (no
    ``scheme://``) and invalid percent-sequences normalize to NULL so
    they can be routed to a quarantine branch instead of silently
    passing.

    The decoded form is :func:`operators.text.let`-bound: the
    normalized form references it ~8 times (scheme twice, host, path,
    query, parse gate), and when the input is itself a wide expression
    (a synthesized or concatenated URL) naive inlining multiplies that
    tree past Janino's 64 KB method limit — the same blowup lang_id
    documents."""

    def body(u: Column) -> Column:
        q = url_query_kept(u)
        norm = F.concat(
            url_scheme(u),
            F.lit("://"),
            url_host(u),
            url_path(u),
            F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
        )
        return F.when(u.rlike(URL_PARTS_RE), norm)

    return let(pct_normalize(col), body)


def remove_dot_segments(path: Column) -> Column:
    """RFC 3986 §5.2.4 dot-segment removal over an absolute path via a
    segment-stack fold (``F.aggregate`` — JVM-side, no UDF): ``.`` is
    skipped, ``..`` pops, anything else pushes; popping past the root
    is absorbed (``/../a`` -> ``/a``, the spec behavior). One
    documented divergence from the spec: a TRAILING dot segment
    resolves without the trailing slash (``/a/b/..`` -> ``/a``, not
    ``/a/``) — the downstream canonicalizer collapses trailing slashes
    anyway, so frontier keys are unaffected, and the DuckDB twin
    replays the identical fold."""

    def body(segs: Column) -> Column:
        stack = F.aggregate(
            segs,
            F.expr("cast(array() as array<string>)"),
            lambda acc, s: F.when(s == ".", acc)
            .when(
                s == "..",
                F.slice(acc, 1, F.greatest(F.size(acc) - 1, F.lit(0))),
            )
            .otherwise(F.concat(acc, F.array(s))),
        )
        joined = F.array_join(stack, "/")
        return F.when(joined.startswith("/"), joined).otherwise(
            F.concat(F.lit("/"), joined)
        )

    return let(F.split(path, "/"), body)


#: an absolute URI reference: it starts with a scheme
URI_SCHEME_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*:"


def url_resolve(base: Column, ref: Column) -> Column:
    """RFC 3986 §5 relative-reference resolution — the redirect-
    frontier primitive: a ``Location`` header is legally relative, so
    3xx targets must resolve against the record's own URI before they
    can be canonicalized and classified. Forms handled (the crawl
    reality): absolute refs pass through; ``//host/p`` inherits the
    base scheme; ``/p`` is origin-relative; ``?q`` replaces the base
    query; ``#f`` is the base document (fragment dropped — it never
    names a fetchable resource); anything else merges onto the base
    path's directory. Dot segments are removed from merged and
    origin-relative paths (:func:`remove_dot_segments`). NULL when the
    base does not parse or the ref is NULL/empty — the quarantine
    route unparseable URLs take. Pure JVM expressions, let-bound
    (the base is referenced ~7 times)."""

    def body(b: Column, r: Column) -> Column:
        sch = F.regexp_extract(b, URL_PARTS_RE, 1)
        auth = F.regexp_extract(b, URL_PARTS_RE, 2)
        origin = F.concat(sch, F.lit("://"), auth)
        bp0 = F.regexp_extract(b, URL_PARTS_RE, 3)
        bpath = F.when(bp0 == "", F.lit("/")).otherwise(bp0)
        # the base path up to and including its last slash — where a
        # path-relative ref attaches (RFC 5.3 "merge")
        bdir = F.regexp_replace(bpath, "[^/]*$", "")
        bq = F.regexp_extract(b, URL_PARTS_RE, 4)
        base_no_frag = F.concat(
            origin,
            bpath,
            F.when(bq == "", F.lit("")).otherwise(F.concat(F.lit("?"), bq)),
        )
        # dot removal applies to the ref's PATH only — its ?query /
        # #fragment tail must pass through untouched ('?x=./y' is data)
        rpath = F.regexp_extract(r, r"^([^?#]*)", 1)
        rtail = r.substr(F.length(rpath) + 1, F.length(r))
        resolved = (
            F.when(r.rlike(URI_SCHEME_RE), r)
            .when(r.startswith("//"), F.concat(sch, F.lit(":"), r))
            .when(
                r.startswith("/"),
                F.concat(origin, remove_dot_segments(rpath), rtail),
            )
            .when(r.startswith("?"), F.concat(origin, bpath, r))
            .when(r.startswith("#"), base_no_frag)
            .otherwise(
                F.concat(
                    origin,
                    remove_dot_segments(F.concat(bdir, rpath)),
                    rtail,
                )
            )
        )
        return F.when(
            b.rlike(URL_PARTS_RE) & r.isNotNull() & (r != ""), resolved
        )

    return let(base, lambda b: let(ref, lambda r: body(b, r)))


#: one ``<a ...>`` opening tag (the href lives in the opening tag;
#: pages close anchors sloppily, so the CLOSE tag is never required)
ANCHOR_TAG_RE = r"(?i)<a\s[^>]*>"
#: href value, double- then single-quoted form (HTML allows both; an
#: unquoted href is vanishingly rare in real markup and would need a
#: boundary class that RE2 and java.util.regex disagree on, so it is a
#: documented non-goal — the anchor simply extracts as empty)
HREF_DQ_RE = r'(?i)href\s*=\s*"([^"]*)"'
HREF_SQ_RE = r"(?i)href\s*=\s*'([^']*)'"
#: rel attribute containing the nofollow token
NOFOLLOW_RE = r"""(?i)rel\s*=\s*["'][^"']*nofollow"""
#: schemes that never name a fetchable resource — anchors carrying
#: them are dropped BEFORE resolution (a javascript: href is code, a
#: mailto:/tel: href is an address; none belong on a crawl frontier)
NOFETCH_SCHEME_RE = r"(?i)^(mailto|javascript|tel|data):"
#: the FIRST <base href> tag's value (HTML honors only the first) —
#: it replaces the page URL as the resolution base for every relative
#: href on the page; may itself be relative (resolved against the
#: page URL first)
BASE_HREF_RE = r"""(?i)<base\s[^>]*href\s*=\s*["']([^"']*)["']"""
#: the <link rel=canonical> href — the page's self-declared canonical
#: URL, the dedup signal real pipelines key on (rel may precede or
#: follow href within the tag; first tag wins)
CANONICAL_RE = (
    r"""(?i)<link\s(?:[^>]*\brel\s*=\s*["']canonical["'][^>]*"""
    r"""href\s*=\s*["']([^"']*)["']|[^>]*href\s*=\s*["']([^"']*)["']"""
    r"""[^>]*\brel\s*=\s*["']canonical["'])"""
)


def base_href(col: Column) -> Column:
    """The first ``<base href>`` value in an HTML column, empty when
    the page declares none — callers resolve it against the page URL
    (it is legally relative) and use the result as the base for every
    relative anchor href on the page."""
    return F.regexp_extract(col, BASE_HREF_RE, 1)


def canonical_href(col: Column) -> Column:
    """The first ``<link rel="canonical">`` href in an HTML column
    (either attribute order), empty when the page declares none."""
    return let(
        F.regexp_extract(col, CANONICAL_RE, 1),
        lambda g1: F.when(g1 != "", g1).otherwise(
            F.regexp_extract(col, CANONICAL_RE, 2)
        ),
    )


def extract_anchors(col: Column) -> Column:
    """``array<struct<href,nofollow>>`` of the anchors in an HTML
    column — the in-page half of frontier discovery (sitemaps and 3xx
    Locations are the out-of-page halves): every ``<a>`` opening tag's
    href as written (double- or single-quoted; empty when the tag has
    no usable href) plus whether its ``rel`` carries ``nofollow``.
    Pure JVM expressions — ``regexp_extract_all`` over the markup,
    per-tag extracts inside a ``transform`` — so extraction rides
    whole-stage codegen and the only cost is the regex scan the page
    already pays for block splitting. Callers filter empties,
    fragment-only and non-fetchable-scheme hrefs, then resolve against
    the page URL with :func:`url_resolve` (hrefs are usually
    relative)."""
    return F.transform(
        F.regexp_extract_all(col, F.lit(ANCHOR_TAG_RE), 0),
        lambda t: let(
            F.regexp_extract(t, HREF_DQ_RE, 1),
            lambda dq: F.struct(
                F.when(dq != "", dq)
                .otherwise(F.regexp_extract(t, HREF_SQ_RE, 1))
                .alias("href"),
                t.rlike(NOFOLLOW_RE).alias("nofollow"),
            ),
        ),
    )


def registered_domain(host: Column) -> Column:
    """Naive eTLD+1: the last two host labels, or the last three when
    the last two form a known second-level suffix (:data:`TWO_PART_SUFFIXES`).
    A bare label (no dot) is returned unchanged. A trailing explicit
    port is stripped FIRST (:func:`url_host` only removes the scheme's
    DEFAULT port, so 'blocked.com:8080' must still key the blocklist
    as 'blocked.com', and 'blog.example.co.uk:8443' must not defeat
    the two-part-suffix check). For the table-backed longest-match
    form see :func:`registered_domain_join`.

    Both the host and its label array are let-bound — the rule
    references the labels four times, and the host is usually the
    (wide) :func:`url_host` expression."""
    host = F.regexp_replace(host, PORT_RE, "")
    suffixes = F.array(*[F.lit(s) for s in TWO_PART_SUFFIXES])

    def over_parts(h: Column, parts: Column) -> Column:
        n = F.size(parts)
        # greatest() guards keep slice starts >= 1 on short hosts — CASE
        # arms are row-lazy, but an invalid literal start would still
        # fail analysis-time folding on a 1-label host
        last2 = F.array_join(F.slice(parts, F.greatest(F.lit(1), n - 1), 2), ".")
        return (
            F.when(n <= 2, h)
            .when(
                F.array_contains(suffixes, last2) & (n >= 3),
                F.array_join(F.slice(parts, F.greatest(F.lit(1), n - 2), 3), "."),
            )
            .otherwise(last2)
        )

    return let(
        host, lambda h: let(F.split(h, r"\."), lambda parts: over_parts(h, parts))
    )


def psl_rule_tables(
    suffixes: tuple[str, ...],
) -> tuple[dict[int, list[str]], dict[int, list[str]], dict[int, list[str]]]:
    """Partition registry rules by form, keyed by EFFECTIVE suffix
    depth (shared by the Spark operator and the generated DuckDB
    twins, so both engines parse the rule syntax exactly once, here):

    - exact ``co.uk`` -> depth 2, join key = last-2-labels;
    - wildcard ``*.ck`` -> depth 2 (the ``*`` consumes one label),
      join key = last-1-labels (= the literal rest), valid only when
      the host has >= depth labels;
    - exception ``!www.ck`` -> stored at its own label count (2), and
      a match forces depth = count - 1 (the carved-out name is itself
      a registrable domain), beating every other rule per the
      registry's published algorithm."""
    exact: dict[int, list[str]] = {}
    wild: dict[int, list[str]] = {}
    exc: dict[int, list[str]] = {}
    for s in suffixes:
        if s.startswith("!"):
            name = s[1:]
            exc.setdefault(name.count(".") + 1, []).append(name)
        elif s.startswith("*."):
            rest = s[2:]
            wild.setdefault(rest.count(".") + 2, []).append(rest)
        else:
            exact.setdefault(s.count(".") + 1, []).append(s)
    return exact, wild, exc


def registered_domain_join(
    df: DataFrame,
    host: Column | str,
    *,
    out: str = "domain",
    suffixes: tuple[str, ...] | None = None,
) -> DataFrame:
    """Table-backed eTLD+1 (r12): longest-suffix match against a
    public-suffix table (default: the bundled
    :data:`functions.psl.PUBLIC_SUFFIXES`; pass the full registry as
    ``suffixes`` to widen coverage without changing the plan). All
    three registry rule forms are interpreted: EXACT rules, WILDCARD
    rules (``*.ck`` — every single label under ``ck`` is a suffix, so
    ``x.ck`` has no registrable part and ``a.x.ck`` registers as
    itself), and EXCEPTION rules (``!www.ck`` — carved back out, so
    ``www.ck`` and every host under it registers as ``www.ck``).
    Exceptions beat everything; otherwise the DEEPEST matching rule
    wins; no match defaults to the last two labels (the registry's
    implicit ``*`` rule). Adds ``out`` = the registrable domain: the
    winning suffix plus one label, the whole host when nothing lies
    beyond the suffix, NULL for a NULL host. A trailing explicit port
    is stripped first, like :func:`registered_domain`.

    Plan shape: one LEFT BROADCAST join per (rule form, depth) — five
    for the bundled table — on the host's trailing-labels key, all
    map-side, zero shuffles, so the rule table can grow to the full
    ~10k-row registry for free."""
    if suffixes is None:
        from automated_datastore_discovery_with_aws_glue_spark.functions.psl import (
            PUBLIC_SUFFIXES as suffixes,
        )
    exact, wild, exc = psl_rule_tables(suffixes)
    spark = df.sparkSession
    hcol = host if isinstance(host, Column) else F.col(host)
    label_depths = sorted(
        set(exact) | {d - 1 for d in wild} | set(exc)
    )
    work = df.withColumn("_rdj_h", F.regexp_replace(hcol, PORT_RE, ""))
    work = work.withColumn("_rdj_p", F.split(F.col("_rdj_h"), r"\."))
    n = F.size("_rdj_p")
    for d in label_depths:
        last_d = F.array_join(
            F.slice(F.col("_rdj_p"), n - (d - 1), F.lit(d)), "."
        )
        work = work.withColumn(f"_rdj_l{d}", F.when(n >= d, last_d))

    def bjoin(values: list[str], colname: str, key_depth: int) -> None:
        nonlocal work
        tbl = spark.createDataFrame([(v,) for v in values], f"{colname} string")
        work = work.join(
            F.broadcast(tbl),
            F.col(f"_rdj_l{key_depth}") == F.col(colname),
            "left",
        )

    for d, vals in sorted(exact.items()):
        bjoin(vals, f"_rdj_s{d}", d)
    for d, vals in sorted(wild.items()):
        bjoin(vals, f"_rdj_w{d}", d - 1)
    for d, vals in sorted(exc.items()):
        bjoin(vals, f"_rdj_e{d}", d)
    depth = F.lit(1)
    for d in sorted(set(exact) | set(wild)):  # ascending: deepest wins
        cond = None
        if d in exact:
            cond = F.col(f"_rdj_s{d}").isNotNull()
        if d in wild:
            # the * must consume a REAL label: 'ck' alone is not *.ck
            wcond = F.col(f"_rdj_w{d}").isNotNull() & (n >= d)
            cond = wcond if cond is None else (cond | wcond)
        depth = F.when(cond, F.lit(d)).otherwise(depth)
    for d in sorted(exc):  # exceptions override every other form
        depth = F.when(
            F.col(f"_rdj_e{d}").isNotNull(), F.lit(d - 1)
        ).otherwise(depth)
    dom = F.when(n <= depth, F.col("_rdj_h")).otherwise(
        F.array_join(F.slice(F.col("_rdj_p"), n - depth, depth + F.lit(1)), ".")
    )
    drop = (
        ["_rdj_h", "_rdj_p"]
        + [f"_rdj_l{d}" for d in label_depths]
        + [f"_rdj_s{d}" for d in exact]
        + [f"_rdj_w{d}" for d in wild]
        + [f"_rdj_e{d}" for d in exc]
    )
    return work.withColumn(out, dom).drop(*drop)


# -- IDN / punycode host folding (r13, VERDICT r12 item 4) --------------
#
# Unicode hosts and their punycode twins ('münchen.de' vs
# 'xn--mnchen-3ya.de') must be ONE frontier / blocklist / cap / PSL key,
# or a blocklist is bypassable by re-spelling the host. The canonical
# form is the ASCII (punycode) one — ASCII hosts, including xn-- forms,
# are already canonical and ride a pure native fast path; only the
# Unicode remainder (a vanishing fraction of any real corpus) takes the
# Python fold, and only once per DISTINCT host.

#: split a host into (name, optional ':port' suffix) — [0-9] explicitly,
#: because Python-re \d matches Unicode digits and a fullwidth-digit
#: "port" must NOT survive into the canonical ASCII key (it folds with
#: the name instead, one deterministic key either way)
_HOST_PORT_RE = re.compile(r"^(.*?)((?::[0-9]+)?)$")


def fold_host(host: str) -> str | None:
    """Pure-Python IDNA fold of one lowercased host: each non-ASCII
    label is encoded to its ``xn--`` form via the stdlib IDNA-2003
    codec (nameprep + RFC 3492 punycode — the algorithmic, public
    transform), a trailing explicit port is preserved, and an
    unfoldable label (empty, over 63 octets, nameprep-rejected)
    returns ``None`` — the quarantine route unparseable URLs take.
    Shared by the :func:`idn_fold` kernel and the oracle generator,
    so both engines derive expectations from ONE implementation."""
    import encodings.idna as _idna

    m = _HOST_PORT_RE.match(host)
    name, port = m.group(1).lower(), m.group(2)
    # one trailing dot is the DNS root-dot respelling of the same name
    # ('example.com.' == 'example.com') — strip it BEFORE the fast
    # path / ToASCII split (r14, ADVICE r13: the ASCII path used to
    # pass it through as a DISTINCT key while the Unicode path
    # quarantined on the empty final label — a blocklist-bypass form
    # and an asymmetry between the two script paths)
    if name.endswith("."):
        name = name[:-1]
    if name.isascii():
        return name + port
    try:
        labels = [
            _idna.ToASCII(lbl).decode("ascii").lower() for lbl in name.split(".")
        ]
    except UnicodeError:
        return None
    return ".".join(labels) + port


def idn_fold(
    df: DataFrame, host: Column | str, *, out: str = "host_folded"
) -> DataFrame:
    """Add ``out`` = the canonical ASCII form of ``host`` (lowercased;
    Unicode labels punycoded so 'münchen.de' ≡ 'xn--mnchen-3ya.de' as
    one key; NULL for NULL or unfoldable hosts). Plan shape: ASCII
    hosts — effectively the whole corpus — are decided by one
    codegen'd regex and never leave the JVM; the non-ASCII remainder
    is folded ONCE PER DISTINCT HOST by an Arrow-batched kernel
    (:func:`fold_host`) and broadcast-joined back, so the Python cost
    is bounded by host cardinality, not corpus size."""
    from collections.abc import Iterator as _It

    hcol = F.col(host) if isinstance(host, str) else host
    for c in ("_if_h", "_if_f"):
        if c in df.columns:
            raise ValueError(f"idn_fold: working column {c!r} already exists")
    if out in df.columns or out in ("_if_h", "_if_f"):
        raise ValueError(
            f"idn_fold: output column {out!r} collides with an existing "
            f"or working column — pick another name"
        )
    work = df.withColumn("_if_h", F.lower(hcol))
    is_ascii = F.col("_if_h").rlike(r"^[\x00-\x7F]*$")
    uni = work.filter(~is_ascii).select("_if_h").distinct()

    def gen(batches: _It) -> _It:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "_if_h": pdf["_if_h"],
                    "_if_f": [fold_host(h) for h in pdf["_if_h"]],
                }
            )

    mapping = uni.mapInPandas(gen, "_if_h string, _if_f string")
    res = work.join(F.broadcast(mapping), "_if_h", "left")
    # the JVM fast path must apply the same root-dot strip fold_host
    # does ('example.com.' == 'example.com'), or the two script paths
    # diverge on the same respelling; one dot only, port-aware
    ascii_fold = F.regexp_replace(F.col("_if_h"), r"\.(?=(:[0-9]+)?$)", "")
    return res.withColumn(
        out, F.when(is_ascii, ascii_fold).otherwise(F.col("_if_f"))
    ).drop("_if_h", "_if_f")


def discover_frontier(
    pages: DataFrame, url_col: str, html_col: str
) -> DataFrame:
    """In-page frontier discovery over REAL page rows (r14c): every
    fetchable, non-nofollow anchor target of ``html_col`` resolved
    against the page's resolution base (the first ``<base href>``
    when declared — itself resolved against ``url_col`` — else the
    page URL), canonicalized, and deduplicated within the frame:
    ``(url, host, n_refs)``. The generic form of the fixture pipeline
    behind ``corpus_link_graph`` / ``corpus_crawl_cycle``, and the
    per-batch discovery step of the persisted
    :class:`~automated_datastore_discovery_with_aws_glue_spark.state.frontier.CrawlFrontier`.

    Gates, in order: empty href, fragment-only, non-fetchable schemes
    (mailto/javascript/tel/data), ``rel=nofollow`` (a polite corpus
    crawler treats it as do-not-crawl), unresolvable/unnormalizable
    targets (NULL quarantine). All map-side JVM expressions; the one
    shuffle is the final URL-key aggregate."""
    u, h = F.col(url_col), F.col(html_col)
    pre = pages.select(
        u.alias("_df_page"),
        let(
            h,
            lambda hh: F.struct(
                extract_anchors(hh).alias("anchors"),
                base_href(hh).alias("base"),
            ),
        ).alias("_df_hx"),
    ).select(
        "_df_page",
        F.when(
            F.col("_df_hx.base") != "",
            let(url_resolve(F.col("_df_page"), F.col("_df_hx.base")), lambda b: b),
        )
        .otherwise(F.col("_df_page"))
        .alias("_df_base"),
        F.explode(F.col("_df_hx.anchors")).alias("_df_a"),
    )
    cand = (
        pre.filter(
            (F.col("_df_a.href") != "")
            & ~F.col("_df_a.href").startswith("#")
            & ~F.col("_df_a.href").rlike(NOFETCH_SCHEME_RE)
            & ~F.col("_df_a.nofollow")
        )
        .select(
            let(
                url_resolve(F.col("_df_base"), F.col("_df_a.href")),
                lambda r: url_normalize(r),
            ).alias("url")
        )
        .filter(F.col("url").isNotNull())
    )
    return (
        cand.groupBy("url")
        .agg(F.count(F.lit(1)).alias("n_refs"))
        .select("url", url_host(F.col("url")).alias("host"), "n_refs")
    )


def url_dedup(
    df: DataFrame, id_col: str, url_col: str, *, keep_order: tuple[str, ...] = ()
) -> DataFrame:
    """Exact dedup on the NORMALIZED URL: one row per canonical URL
    (lowest ``keep_order + id`` wins), with the duplicate count. One
    shuffle on the canonical URL — a high-cardinality, skew-free key at
    any corpus size."""
    norm = url_normalize(F.col(url_col)).alias("url_norm")
    w = Window.partitionBy("url_norm").orderBy(
        *[F.col(c) for c in keep_order], F.col(id_col)
    )
    return (
        df.select("*", norm)
        .filter(F.col("url_norm").isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("dup_count", F.count(F.lit(1)).over(Window.partitionBy("url_norm")))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def domain_cap(
    df: DataFrame,
    domain_col: str,
    cap: int,
    *,
    order: list[Column] | None = None,
) -> DataFrame:
    """Keep at most ``cap`` rows per domain, best-first by ``order``
    (default: the input's ``quality`` column descending, then ``id``).

    ONE ranked window, pruned map-side: Spark's rank-limit pushdown
    (``WindowGroupLimit``, fires for ``row_number() <= k`` with k under
    ``spark.sql.optimizer.windowGroupLimitThreshold``, default 1000)
    inserts a partial per-group top-``cap`` heap BEFORE the exchange, so
    each map task ships at most ``cap`` rows per domain and the reduce
    side never sorts a whole domain — a mega-domain arrives as
    cap x map-tasks rows, not its full membership. The previous
    two-phase formulation (count join -> under/over split -> window on
    the over subset) shuffled the ENTIRE input through a null-safe
    sort-merge join just to learn the counts, sent the hot domain's
    full membership through one join partition, and — because the
    optimizer pushes the ``_dn`` filters below the join — evaluated the
    input subtree once per branch (4 evaluations of an expensive
    upstream in the composed pipelines).

    The operator is TOTAL: rows with a NULL domain form one window
    group and are capped like any other domain."""
    if order is None:
        order = [F.col("quality").desc(), F.col("id")]
    return (
        df.withColumn(
            "_rn", F.row_number().over(Window.partitionBy(domain_col).orderBy(*order))
        )
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


# -- robots.txt (r11; r12 adds REP path wildcards) ----------------------
#
# The crawl-politeness stage between frontier dedup and fetching: the
# wildcard agent group ('User-agent: *'), Allow/Disallow directives,
# comment stripping, and RFC-9309 matching — '*' in a directive path
# matches any span, a trailing '$' anchors the end, everything else is
# a literal prefix; precedence is most-octets-in-the-rule with allow
# winning ties. Rules are matched against the raw path-and-query
# (:func:`url_raw_target`), so 'Disallow: /*?sessionid=' works.
# Crawl-delay is NOT interpreted (a scheduler concern, not a filter).
# All pure native expressions; rule tables are per-host and tiny, so
# the match join BROADCASTS the parsed rules; literal rules (the
# overwhelming majority) keep the codegen'd prefix compare and only
# wildcard rules pay for a regex.

_ROBOTS_UA_RE = r"(?i)^user-agent\s*:"
_ROBOTS_DIRECTIVE_RE = r"(?i)^(allow|disallow)\s*:(.*)$"

#: regex metacharacters escaped when compiling a REP rule path —
#: everything EXCEPT '*' (REP any-span, handled after escaping) ;
#: '$' is escaped here and the TRAILING one un-escaped back into an
#: end anchor (mid-rule '$' is literal data per the REP)
REP_SPECIALS_CLASS = r"([.^$+?(){}\[\]|\\])"


def rep_pattern(prefix: Column) -> Column:
    """Compile a REP rule path to an anchored regex (shared semantics
    with the DuckDB twin, which applies the same three rewrites):
    escape regex metacharacters, turn ``*`` into ``.*``, and turn a
    TRAILING ``$`` (escaped to ``\\$`` by step one) back into the end
    anchor. No trailing ``$`` means prefix semantics — the pattern is
    anchored at ``^`` only."""
    esc = F.regexp_replace(prefix, REP_SPECIALS_CLASS, r"\\$1")
    pat = F.regexp_replace(esc, r"\*", ".*")
    return F.concat(F.lit("^"), F.regexp_replace(pat, r"\\\$$", r"\$"))


def rep_is_wildcard(prefix: Column) -> Column:
    """True when the rule path needs the regex matcher ('*' anywhere
    or a trailing '$'); literal prefixes take the startswith path."""
    return prefix.contains("*") | prefix.endswith("$")


#: group-independent Sitemap directive (per the REP it applies to the
#: whole file, wherever it appears) — case-insensitive like the rest
_ROBOTS_SITEMAP_RE = r"(?i)^sitemap\s*:(.*)$"
#: Crawl-delay is GROUP-scoped (de-facto extension): only the wildcard
#: group's value binds a generic crawler
_ROBOTS_DELAY_RE = r"(?i)^crawl-delay\s*:(.*)$"


def _robots_lines(df: DataFrame, key_col: str, robots_col: str) -> DataFrame:
    """``(key, _i, _ln)`` — split lines, comments stripped, blanks
    dropped, document order preserved."""
    lines = df.select(
        key_col,
        F.posexplode(F.split(F.col(robots_col), "\n")).alias("_i", "_raw"),
    )
    return lines.select(
        key_col,
        "_i",
        F.trim(F.regexp_replace("_raw", "#.*$", "")).alias("_ln"),
    ).filter(F.col("_ln") != "")


def _robots_group_lines(
    df: DataFrame, key_col: str, robots_col: str, *, agent: str | None = None
) -> DataFrame:
    """The NON-UA lines of the SELECTED agent group(s): agent groups
    delimited by runs of ``User-agent:`` lines (consecutive UA lines
    share one group). With ``agent=None`` the wildcard groups are
    selected (a generic crawler). With a product token, RFC 9309
    group selection applies (r14, VERDICT r13 item 1): a group
    matches when one of its ``User-agent:`` values is a
    case-insensitive PREFIX of the token (``googlebot`` binds a
    ``googlebot-news`` crawler), the LONGEST matching value wins
    host-wide, every group carrying that winning value merges (the
    RFC: same-agent groups combine), and the ``*`` groups bind ONLY
    when no specific group matched — a host that names bots gives a
    token-carrying crawler a DIFFERENT verdict set than ``*``.

    One window per key over the (tiny) line list — never data-scale.
    Shared by :func:`robots_rules` and :func:`robots_crawl_delay`."""
    cleaned = _robots_lines(df, key_col, robots_col)
    w = Window.partitionBy(key_col).orderBy("_i")
    marked = cleaned.withColumn("_ua", F.col("_ln").rlike(_ROBOTS_UA_RE))
    grouped = marked.withColumn(
        "_grp",
        F.sum(
            (F.col("_ua") & ~F.lag("_ua", 1, False).over(w)).cast("int")
        ).over(w),
    )
    agent_val = F.lower(
        F.trim(F.regexp_extract("_ln", _ROBOTS_UA_RE + r"(.*)$", 1))
    )
    if agent is None:
        sel = (
            grouped.filter(F.col("_ua"))
            .groupBy(key_col, "_grp")
            .agg(F.max((agent_val == "*").cast("int")).alias("_star"))
            .filter(F.col("_star") == 1)
            .select(key_col, "_grp")
        )
    else:
        token = F.lit(agent.lower())
        per_grp = (
            grouped.filter(F.col("_ua"))
            .groupBy(key_col, "_grp")
            .agg(
                F.max(
                    F.when(
                        (agent_val != "*") & token.startswith(agent_val),
                        F.length(agent_val),
                    )
                ).alias("_mlen"),
                F.max((agent_val == "*").cast("int")).alias("_star"),
            )
        )
        best = per_grp.groupBy(key_col).agg(F.max("_mlen").alias("_best"))
        sel = (
            per_grp.join(best, key_col)
            .filter(
                F.when(
                    F.col("_best").isNotNull(),
                    F.col("_mlen") == F.col("_best"),
                ).otherwise(F.col("_star") == 1)
            )
            .select(key_col, "_grp")
        )
    return (
        grouped.filter(~F.col("_ua"))
        .join(sel, [key_col, "_grp"])
        .select(key_col, "_i", "_ln")
    )


def robots_rules(
    df: DataFrame, key_col: str, robots_col: str, *, agent: str | None = None
) -> DataFrame:
    """Parse ``robots.txt`` bodies into ``(key, rule, prefix)`` rows
    for the selected agent group — the wildcard group by default, RFC
    9309 longest-prefix product-token selection with ``agent=``
    (:func:`_robots_group_lines`). An EMPTY Disallow ("Disallow:")
    means allow-everything and yields no rule."""
    rule = F.lower(F.regexp_extract("_ln", _ROBOTS_DIRECTIVE_RE, 1))
    prefix = F.trim(F.regexp_extract("_ln", _ROBOTS_DIRECTIVE_RE, 2))
    return (
        _robots_group_lines(df, key_col, robots_col, agent=agent)
        .select(key_col, rule.alias("rule"), prefix.alias("prefix"))
        .filter(F.col("rule") != "")
        .filter(F.col("prefix") != "")
        .select(key_col, "rule", "prefix")
    )


def robots_crawl_delay(
    df: DataFrame, key_col: str, robots_col: str, *, agent: str | None = None
) -> DataFrame:
    """``(key, crawl_delay_ms)`` from the selected group's
    ``Crawl-delay:`` directives (wildcard by default, RFC 9309
    token selection with ``agent=``) — the de-facto politeness
    extension a scheduler consumes. Seconds may be fractional; the
    MINIMUM across duplicate lines wins (the conservative read),
    FLOORED to whole milliseconds (an explicit floor on both engines
    — a bare int cast truncates here but rounds half-to-even in
    DuckDB, so a value like 1.9996 s would silently diverge).
    Unparseable values are ignored; a host with no selected-group
    delay emits no row."""
    val = F.trim(F.regexp_extract("_ln", _ROBOTS_DELAY_RE, 1)).try_cast("double")
    return (
        _robots_group_lines(df, key_col, robots_col, agent=agent)
        .filter(F.col("_ln").rlike(_ROBOTS_DELAY_RE))
        .select(key_col, val.alias("_s"))
        .filter(F.col("_s").isNotNull())
        .groupBy(key_col)
        .agg(F.floor(F.min("_s") * 1000).cast("int").alias("crawl_delay_ms"))
    )


def redirect_chains(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 4,
) -> DataFrame:
    """Multi-hop redirect resolution (r14b): map every redirect SOURCE
    to its final target by walking the ``(src, dst)`` edge table —
    the frontier-consolidation step a crawler runs so `A -> B -> C`
    fetches and dedups as ``C``. The walk is a STATIC unroll of
    ``max_hops`` self-joins (real chains are short — browsers cap
    around 20 — and a bounded unroll keeps the plan deterministic: no
    driver-side iteration, no data-dependent plan shape). Cycle
    detection via an accumulated path array (``A -> B -> A`` stops
    with ``status='loop'``); a walk still unresolved after
    ``max_hops`` reports ``'cap'``; everything else ``'ok'`` with the
    final URL and exact hop count.

    Returns one row per DISTINCT source: ``(start, final_url, n_hops,
    status)``. Scale shape: each unroll level is one equi-join on the
    current target — a high-cardinality, skew-free URL key — and rows
    whose walk already terminated carry NULL keys through the
    remaining joins (no growth, no recomputation). Shuffle count =
    ``max_hops``, independent of data size.

    The deduplicated edge table is PERSISTED: it is referenced by
    every unroll level plus the final membership join (``max_hops+1``
    times) — unpersisted, each level would re-run the caller's whole
    edge-derivation subtree (measured 5x the operator's wall-clock on
    an extraction-derived edge set), and the analyzer would re-walk
    the full lineage per level."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.cache import own

    e = (
        edges.select(F.col(src_col).alias("_rc_s"), F.col(dst_col).alias("_rc_d"))
        .distinct()
        .persist()
    )
    # hop 1: every distinct source starts a walk
    cur = e.select(
        F.col("_rc_s").alias("start"),
        F.col("_rc_d").alias("_cur"),
        F.lit(1).alias("n_hops"),
        F.array(F.col("_rc_s")).alias("_path"),
        # a self-edge is an immediate loop
        (F.col("_rc_d") == F.col("_rc_s")).alias("_loop"),
        F.lit(False).alias("_done"),
    )
    for _ in range(max_hops - 1):
        nxt = e.withColumnRenamed("_rc_s", "_rc_cur")
        live = ~F.col("_done") & ~F.col("_loop")
        cur = (
            cur.join(
                nxt,
                # terminated walks join on a NULL key: no match, no cost
                F.when(live, F.col("_cur")) == F.col("_rc_cur"),
                "left",
            )
            .drop("_rc_cur")
            .select(
                "start",
                F.when(F.col("_rc_d").isNotNull(), F.col("_rc_d"))
                .otherwise(F.col("_cur"))
                .alias("_cur"),
                F.when(F.col("_rc_d").isNotNull(), F.col("n_hops") + 1)
                .otherwise(F.col("n_hops"))
                .alias("n_hops"),
                F.when(
                    F.col("_rc_d").isNotNull(),
                    F.array_append(F.col("_path"), F.col("_cur")),
                )
                .otherwise(F.col("_path"))
                .alias("_path"),
                (
                    F.col("_loop")
                    | (
                        F.col("_rc_d").isNotNull()
                        & (
                            F.array_contains(F.col("_path"), F.col("_rc_d"))
                            | (F.col("_rc_d") == F.col("_cur"))
                        )
                    )
                ).alias("_loop"),
                # no outgoing edge found while live -> walk is complete
                (F.col("_done") | (live & F.col("_rc_d").isNull())).alias(
                    "_done"
                ),
            )
        )
    # a walk neither done nor looped after max_hops levels hit the cap —
    # UNLESS its current node has no outgoing edge (resolved exactly at
    # the cap); one last membership join decides. NOT broadcast: the
    # source set is data-scale — the key is a high-cardinality URL,
    # the shuffle join is the honest shape.
    last = e.select(F.col("_rc_s").alias("_cur"), F.lit(1).alias("_more")).distinct()
    out = cur.join(last, "_cur", "left")
    own(e)
    return out.select(
        "start",
        F.col("_cur").alias("final_url"),
        "n_hops",
        F.when(F.col("_loop"), F.lit("loop"))
        .when(F.col("_done") | F.col("_more").isNull(), F.lit("ok"))
        .otherwise(F.lit("cap"))
        .alias("status"),
    )


def crawl_schedule(
    pages: DataFrame,
    delays: DataFrame,
    *,
    id_col: str,
    key_col: str = "host",
    delay_col: str = "crawl_delay_ms",
    default_delay_ms: int = 1000,
    order: tuple[str, ...] = (),
) -> DataFrame:
    """Per-host politeness schedule (r14, VERDICT r13 item 7): the
    analytics shape the robots layer enables — compose the per-host
    ``Crawl-delay`` table with a fetch frontier into ``(host, url,
    fetch_slot_ms)`` assignments. Pages are ordered within each host
    by ``order + (id_col,)`` (a total, deterministic order), ``seq``
    is the 1-based fetch position, ``delay_ms`` the host's directive
    (``default_delay_ms`` when the host published none — a polite
    crawler never hammers an unconfigured host), and ``fetch_slot_ms
    = (seq - 1) * delay_ms`` — the cumulative wait in EXACT integer
    milliseconds (bigint arithmetic replays bit-identically in any
    engine).

    Scale shape: one broadcast join (the delay table is per-host
    metadata) + ONE window per host key — never a global window. A
    mega-host serializes only its own partition, which is inherent to
    the semantics (its fetches are sequential in real time); every
    other host schedules in parallel (pytest-pinned: the plan
    partitions by the host key alone)."""
    for c in ("seq", "delay_ms", "fetch_slot_ms"):
        if c in pages.columns:
            raise ValueError(
                f"crawl_schedule: output column {c!r} already exists"
            )
    joined = pages.join(
        F.broadcast(delays.select(key_col, delay_col)), key_col, "left"
    )
    w = Window.partitionBy(key_col).orderBy(
        *[F.col(c) for c in order], F.col(id_col)
    )
    delay = F.coalesce(
        F.col(delay_col).cast("bigint"), F.lit(default_delay_ms).cast("bigint")
    )
    return (
        joined.withColumn("seq", F.row_number().over(w))
        .withColumn("delay_ms", delay)
        .withColumn(
            "fetch_slot_ms", (F.col("seq") - 1).cast("bigint") * F.col("delay_ms")
        )
        .drop(delay_col)
    )


def robots_sitemaps(
    df: DataFrame, key_col: str, robots_col: str
) -> DataFrame:
    """``(key, sm_idx, sitemap_url)`` — ``Sitemap:`` directives are
    GROUP-INDEPENDENT per the REP (they apply to the whole file
    wherever they appear), so this scans ALL lines, not just the
    wildcard group's; ``sm_idx`` ranks them in document order. The
    discovery half of the crawl frontier: feed each URL's body to
    :func:`sitemap_locs`."""
    m = _robots_lines(df, key_col, robots_col).filter(
        F.col("_ln").rlike(_ROBOTS_SITEMAP_RE)
    )
    url = F.trim(F.regexp_extract("_ln", _ROBOTS_SITEMAP_RE, 1))
    w = Window.partitionBy(key_col).orderBy("_i")
    return (
        m.select(key_col, "_i", url.alias("sitemap_url"))
        .filter(F.col("sitemap_url") != "")
        .withColumn("sm_idx", F.row_number().over(w) - 1)
        .select(key_col, "sm_idx", "sitemap_url")
    )


def robots_filter(
    pages: DataFrame,
    rules: DataFrame,
    *,
    id_col: str,
    key_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """Per-page robots verdict: join the (broadcast) rule table on the
    host, keep rules the target matches — literal rules by the
    codegen'd ``startswith``, wildcard/anchored rules (``*`` / trailing
    ``$``) by their compiled :func:`rep_pattern` regex — and decide by
    the REP precedence: the rule with the most octets wins, allow wins
    length ties, no matching rule means allowed. Adds ``allowed``
    (boolean) and ``matched_prefix`` (the winning rule path as written,
    NULL when no rule matched). FULLY MAP-SIDE (r14): the per-host rule
    list is collect_list'd into one broadcast array row per host, each
    page left-joins its host's array, and the winner is
    ``array_max(transform(filter(rules, matches), struct(len,
    is_allow, prefix)))`` — the same ``max(struct(...))`` precedence,
    decided per row with ZERO page-scale exchanges. The previous shape
    (broadcast join -> groupBy(id) aggregate -> join back onto pages)
    shuffled page-scale rows twice and evaluated the pages subtree
    twice.

    ``path_col`` must be the RAW fetch target (:func:`url_raw_target`
    — raw path plus ``?query``), not the canonical form: a directory
    rule ``Disallow: /admin/`` matches ``/admin/`` but not the
    slash-collapsed ``/admin``, and query rules must see the query.

    Matching itself happens in PERCENT-NORMALIZED space (r12, the REP
    convention Google's matcher documents): both the rule path and the
    target run through :func:`pct_normalize` first, so ``Disallow:
    /p/`` blocks a ``/%70/x`` fetch and ``%7E``/``%7e`` agree — while
    reserved escapes like ``%2F`` stay escapes on BOTH sides and keep
    not matching a literal ``/``. Invalid escapes fall back to the raw
    bytes (robots must still decide something for a garbled URL).
    Precedence octets and ``matched_prefix`` use the rule AS WRITTEN."""
    decoded_pfx = F.coalesce(pct_normalize(F.col("prefix")), F.col("prefix"))
    host_rules = (
        rules.select(
            key_col,
            F.struct(
                # RFC 9309 ranks by OCTETS of the rule as written — a
                # raw-UTF-8 rule path must out-rank a shorter-in-bytes
                # wildcard even when the wildcard has more CHARACTERS
                F.octet_length("prefix").alias("l"),
                (F.col("rule") == "allow").cast("int").alias("a"),
                F.col("prefix").alias("p"),
                rep_is_wildcard(F.col("prefix")).alias("w"),
                rep_pattern(decoded_pfx).alias("pat"),
                decoded_pfx.alias("pfx"),
            ).alias("_r"),
        )
        .groupBy(key_col)
        .agg(F.collect_list("_r").alias("_rf_rules"))
    )
    tgt = F.coalesce(pct_normalize(F.col(path_col)), F.col(path_col))

    def match(r: Column) -> Column:
        return F.when(
            r["w"], F.regexp_like(F.col("_rf_tgt"), r["pat"])
        ).otherwise(F.col("_rf_tgt").startswith(r["pfx"]))

    # collect_list order is nondeterministic, but array_max over the
    # (l, a, p) precedence structs is order-independent
    best = F.array_max(
        F.transform(
            F.filter(F.col("_rf_rules"), match),
            lambda r: F.struct(r["l"].alias("l"), r["a"].alias("a"), r["p"].alias("p")),
        )
    )
    return (
        pages.join(F.broadcast(host_rules), key_col, "left")
        .withColumn("_rf_tgt", tgt)
        .withColumn("_rf_best", best)
        .withColumn(
            "allowed", F.coalesce(F.col("_rf_best.a") == 1, F.lit(True))
        )
        .withColumn("matched_prefix", F.col("_rf_best.p"))
        .drop("_rf_rules", "_rf_tgt", "_rf_best")
    )


# -- sitemap.xml (r11): <loc> extraction for frontier discovery ---------

#: lazy, case-insensitive <loc> element matcher; surrounding whitespace
#: inside the element is consumed by the \s* guards
SITEMAP_LOC_RE = r"(?is)<loc\s*>\s*(.*?)\s*</loc\s*>"

#: XML's predefined entities minus the ampersand family (which decodes
#: LAST in one non-rescanning pass — operators.text.AMP_DECODE_RE, the
#: same one-level contract html_extract uses)
XML_URL_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
)


def xml_unescape_url(col: Column) -> Column:
    from automated_datastore_discovery_with_aws_glue_spark.operators.text import AMP_DECODE_RE

    for ent, ch in XML_URL_ENTITIES:
        col = F.replace(col, F.lit(ent), F.lit(ch))
    return F.regexp_replace(col, AMP_DECODE_RE, "&")


def sitemap_locs(col: Column) -> Column:
    """The ``<loc>`` URLs of a sitemap.xml body, XML-unescaped, in
    document order — the discovery half of the crawl frontier (robots
    points at sitemaps; sitemaps enumerate URLs the crawler has not
    seen). A regex extractor, not an XML parser (the html_extract
    trade): CDATA sections are not interpreted — their loc contents
    still match when they are plain ``<loc>`` elements. Whether the
    locs are PAGES or CHILD SITEMAPS is the file-level question
    :func:`sitemap_kind` answers."""
    return F.transform(
        F.regexp_extract_all(col, F.lit(SITEMAP_LOC_RE), F.lit(1)),
        xml_unescape_url,
    )


#: root-element sniff for the two sitemap-protocol file shapes —
#: per the protocol a file is EITHER a <sitemapindex> (children are
#: sitemaps to fetch) or a <urlset> (children are page URLs), decided
#: by the root element, never mixed
SITEMAP_INDEX_RE = r"(?is)<\s*sitemapindex[\s>]"


def sitemap_kind(col: Column) -> Column:
    """``'index'`` when the body's root is ``<sitemapindex>`` (its
    ``<loc>`` entries are CHILD SITEMAPS the crawler must fetch next,
    not page URLs — treating them as pages over-classifies the
    frontier), else ``'urlset'``. The protocol forbids mixing the two
    shapes in one file, so a file-level sniff is the correct
    granularity; the r13 discovery query routes each file's locs by
    this kind."""
    return F.when(col.rlike(SITEMAP_INDEX_RE), F.lit("index")).otherwise(
        F.lit("urlset")
    )
