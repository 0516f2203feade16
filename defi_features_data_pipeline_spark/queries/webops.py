"""URL/host canonicalization + host-level aggregation (r10 verdict
item 6) — the crawl-curation family every large-scale LLM data
pipeline runs BEFORE per-document passes (CommonCrawl/C4/RefinedWeb
lineage): dedup and filter by canonicalized URL, aggregate quality
signals per registrable domain, and gate documents on their host's
reputation.

The testdata has no URL column, so each gate SYNTHESIZES messy URLs
deterministically from ``documents`` columns — same discipline as the
PII/unicode gates: the synthesis is one shared SQL template rendered
into both engines, the CANONICAL target fields depend only on
``doc_id`` while the MESS knobs depend on ``doc_id + variant``, so a
doc's variants provably collapse to one canonical URL and the
canonicalizer (the operator under test) is what does the collapsing.

Canonicalization semantics (RFC 3986 §6.2 normalizations + the strips
crawl pipelines apply):
  - scheme and host lowercased; leading ``www.`` stripped
  - userinfo (``user@`` / ``user:pw@``) stripped from the authority
    (r12 — was a documented non-goal; a real mirror-splitting mess
    class in crawl data)
  - default port removed (``:80`` for http, ``:443`` for https);
    other ports kept
  - PATH and QUERY percent-normalization: ``%XX`` decoded when the
    octet is an RFC 3986 UNRESERVED character (ALPHA / DIGIT /
    ``-._~``), otherwise kept with uppercase hex — one index-aware
    lambda over ``split(x, '%')``, zero UDFs (query values r12;
    delimiters ``&``/``=`` are reserved so never decoded, making the
    query-string pass delimiter-safe)
  - duplicate path slashes collapsed (``//`` → ``/``; encoded ``%2F``
    is reserved, stays encoded, and therefore never creates a new
    collapse site — r12)
  - trailing slash stripped (except the root path); empty path → /
  - query: tracking params dropped (utm_* prefix; gclid / fbclid /
    msclkid / igshid in BOTH ``name=value`` and bare valueless
    ``?name`` / ``&name`` form — r12), remainder SORTED, empty → no
    ``?``
  - fragment dropped

Remaining documented non-goals: ``+``-as-space in query values is not
decoded (form encoding, not RFC 3986), IDN/punycode hosts pass
through unchanged, and path segments ``.`` / ``..`` are not resolved
(dot-segment resolution belongs to the fetcher, not the dedup key).

Registrable domain (r11 stand-in upgraded r12): the multi-label
public suffixes live in a ~110-row DETERMINISTIC suffix dim
(``PUBLIC_SUFFIXES_2LABEL``, drawn from the public suffix list at
publicsuffix.org) joined as an explicitly-``broadcast()`` bounded dim
— the allowed broadcast class (fixed-size reference data, never
corpus-scaled). A host whose last-2-label tail matches a suffix row
registers at 3 labels; misses fall back to the PSL default rule
(last 2 labels). 1-label public suffixes (com, org, uk …) need no
rows: suffix + 1 label == the last-2 fallback by definition.

100 TB notes: everything here is JVM column arithmetic on the
documents scan plus one bounded broadcast-dim hash join (no KEYED
exchange until the rollup); the rollup is one map-side-combinable
groupBy on registrable_domain; the join-back is a shuffle equi-join
on the same key (domain cardinality is corpus-scaled — crawl-scale is
10^7+ registrable domains — so it is deliberately NOT broadcast;
AQE's skew-join splitting handles mega-hosts).

Reference scope note: the reference pipeline (pandas + Athena SQL,
``src/pipelines/features``) has no web-curation surface; this family
extends the engine for training-data curation per the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.ranking import top_k_per_group
from .core import _davg, davg_sql
from .extensions import _spread, _t

# ---------------------------------------------------------------------------
# shared messy-URL synthesis (one template, both dialects)
# ---------------------------------------------------------------------------

# {id}: doc id SQL expr; {v}: integer variant offset (mess knobs use
# ({id}+{v}) so variants of one doc share every canonical field);
# {str}: CAST target (STRING for Spark, VARCHAR for DuckDB).
# r12 knobs (each a real mirror-splitting mess class): userinfo
# (``u3@`` / ``Crawler:pw%31@``), duplicate path slashes (``//`` /
# ``///``), percent-encoded query VALUE (``v%61l`` vs ``val`` — %61 is
# unreserved 'a', decodes), and VALUELESS tracking params (bare
# ``&fbclid`` / ``&gclid`` / ``&msclkid`` without ``=``). Every knob
# varies only with ({id}+{v}) inside a v-independent outer branch, so
# all variants of a doc still collapse to ONE canonical URL.
_MESSY_URL_TMPL = """
CASE WHEN {id} % 4 <= 1
     THEN CASE ({id} + {v}) % 3 WHEN 0 THEN 'http' WHEN 1 THEN 'HTTP' ELSE 'HtTp' END
     ELSE CASE ({id} + {v}) % 3 WHEN 0 THEN 'https' WHEN 1 THEN 'HTTPS' ELSE 'HtTpS' END END
|| '://'
|| CASE ({id} + {v}) % 5 WHEN 0 THEN 'u' || CAST({id} % 7 AS {str}) || '@'
                         WHEN 2 THEN 'Crawler:pw%31@'
                         ELSE '' END
|| CASE ({id} + 1) % 6
     WHEN 0 THEN (CASE ({id} + {v}) % 2 WHEN 0 THEN 'news.' ELSE 'News.' END)
     WHEN 1 THEN (CASE ({id} + {v}) % 2 WHEN 0 THEN 'cdn.' ELSE 'CDN.' END)
     ELSE (CASE ({id} + {v}) % 3 WHEN 0 THEN '' WHEN 1 THEN 'www.' ELSE 'WWW.' END) END
|| CASE ({id} + {v}) % 2 WHEN 0 THEN upper(source) ELSE source END
|| CASE {id} % 3 WHEN 0 THEN (CASE ({id} + {v}) % 2 WHEN 0 THEN '-news' ELSE '-News' END) ELSE '' END
|| CASE {id} % 4
     WHEN 0 THEN (CASE ({id} + {v}) % 2 WHEN 0 THEN '.com' ELSE '.COM' END)
     WHEN 1 THEN (CASE ({id} + {v}) % 2 WHEN 0 THEN '.org' ELSE '.Org' END)
     WHEN 2 THEN (CASE ({id} + {v}) % 2 WHEN 0 THEN '.co.uk' ELSE '.co.UK' END)
     ELSE '.io' END
|| CASE WHEN {id} % 5 = 1 THEN ':8080'
        WHEN ({id} + {v}) % 4 = 0 AND {id} % 4 <= 1 THEN ':80'
        WHEN ({id} + {v}) % 4 = 0 THEN ':443'
        ELSE '' END
|| '/articles' || CASE ({id} + {v}) % 4 WHEN 0 THEN '//' WHEN 1 THEN '///' ELSE '/' END
|| CAST({id} % 23 AS {str}) || '/'
|| CASE ({id} + {v}) % 3 WHEN 0 THEN '~' WHEN 1 THEN '%7E' ELSE '%7e' END
|| 'user' || CAST({id} % 7 AS {str})
|| CASE WHEN {id} % 6 = 0
        THEN '/a' || (CASE ({id} + {v}) % 2 WHEN 0 THEN '%2F' ELSE '%2f' END) || 'b'
        ELSE '' END
|| CASE ({id} + {v}) % 2 WHEN 0 THEN '/' ELSE '' END
|| CASE WHEN {id} % 11 = 0 THEN ''
        WHEN {id} % 3 = 0 THEN
          CASE ({id} + {v}) % 3
            WHEN 0 THEN '?id=' || (CASE ({id} + {v}) % 2 WHEN 0 THEN 'v%61l' ELSE 'val' END) || CAST({id} % 41 AS {str})
            WHEN 1 THEN '?utm_source=feed&id=' || (CASE ({id} + {v}) % 2 WHEN 0 THEN 'v%61l' ELSE 'val' END) || CAST({id} % 41 AS {str})
            ELSE '?id=' || (CASE ({id} + {v}) % 2 WHEN 0 THEN 'v%61l' ELSE 'val' END) || CAST({id} % 41 AS {str}) || '&fbclid' || (CASE ({id} + {v}) % 2 WHEN 0 THEN '=x9' ELSE '' END) END
        ELSE
          CASE ({id} + {v}) % 3
            WHEN 0 THEN '?id=' || CAST({id} % 41 AS {str}) || '&lang=' || lang
            WHEN 1 THEN '?lang=' || lang || '&gclid' || (CASE ({id} + {v}) % 2 WHEN 0 THEN '=g7' ELSE '' END) || '&id=' || CAST({id} % 41 AS {str})
            ELSE '?msclkid' || (CASE ({id} + {v}) % 2 WHEN 0 THEN '=m1' ELSE '' END) || '&id=' || CAST({id} % 41 AS {str}) || '&lang=' || lang END END
|| CASE ({id} + {v}) % 4 WHEN 0 THEN '#section-2' ELSE '' END
"""


def messy_url_spark(variant: int, id_expr: str = "doc_id") -> str:
    return _MESSY_URL_TMPL.format(id=id_expr, v=variant, str="STRING")


def messy_url_duck(variant: int, id_expr: str = "doc_id") -> str:
    return _MESSY_URL_TMPL.format(id=id_expr, v=variant, str="VARCHAR")


# ---------------------------------------------------------------------------
# canonicalizer — pure column expressions, mirrored per dialect
# ---------------------------------------------------------------------------

# r12 (r11 ADVICE webops.py:121): ``substr(p || '=', 1, n)`` matches
# BOTH ``name=value`` and bare valueless ``name`` (appending '=' turns
# 'gclid' into 'gclid=' while 'gclidx' becomes 'gclidx' — no false
# positives on longer names). utm_ stays a plain name prefix.
TRACKING_FILTER_SQL = (
    "p -> p <> '' AND NOT (substr(p, 1, 4) = 'utm_'"
    " OR substr(p || '=', 1, 6) = 'gclid='"
    " OR substr(p || '=', 1, 7) = 'fbclid='"
    " OR substr(p || '=', 1, 8) = 'msclkid='"
    " OR substr(p || '=', 1, 7) = 'igshid=')"
)

# index-aware percent-normalization of a path expression. Element 0 of
# split(path,'%') is literal text; every later element starts with the
# 2 hex digits of one %XX triplet. Decode when the octet is ASCII
# (hex <= '7E' — 2-digit uppercase hex compares like the number) AND
# the char is RFC 3986 unreserved; otherwise keep %XX with upper hex.
# Malformed tails (too short / non-hex) are passed through untouched.
_PCT_SPARK = (
    "array_join(transform(split({x}, '%'), (x, i) -> CASE"
    " WHEN i = 0 THEN x"
    " WHEN length(x) < 2 OR NOT (upper(substr(x, 1, 2)) RLIKE '^[0-9A-F]{{2}}$')"
    "   THEN '%' || x"
    " WHEN upper(substr(x, 1, 2)) <= '7E'"
    "   AND decode(unhex(upper(substr(x, 1, 2))), 'UTF-8') RLIKE '^[A-Za-z0-9._~-]$'"
    "   THEN decode(unhex(upper(substr(x, 1, 2))), 'UTF-8') || substr(x, 3)"
    " ELSE '%' || upper(substr(x, 1, 2)) || substr(x, 3) END), '')"
)

# DuckDB list lambdas index from 1, Spark transform from 0
_PCT_DUCK = (
    "array_to_string(list_transform(str_split({x}, '%'), (x, i) -> CASE"
    " WHEN i = 1 THEN x"
    " WHEN length(x) < 2 OR NOT regexp_matches(upper(substr(x, 1, 2)), '^[0-9A-F]{{2}}$')"
    "   THEN '%' || x"
    " WHEN upper(substr(x, 1, 2)) <= '7E'"
    "   AND regexp_matches(decode(from_hex(upper(substr(x, 1, 2)))), '^[A-Za-z0-9._~-]$')"
    "   THEN decode(from_hex(upper(substr(x, 1, 2)))) || substr(x, 3)"
    " ELSE '%' || upper(substr(x, 1, 2)) || substr(x, 3) END), '')"
)

# two-step on the Spark side (params array first, CASE second): the
# one-expression form inlines the filter TWICE and, combined with the
# rest of the chain, pushed url_canonicalize's single-Project codegen
# method past janino's 64 KB hard cap — interpreted fallback, ~4x wall
_QPARAMS_SPARK = "array_sort(filter(split({q}, '&'), {flt}))"
_QCANON_SPARK = (
    "CASE WHEN size({p}) = 0 THEN ''"
    " ELSE '?' || array_join({p}, '&') END"
)
_QCANON_DUCK = (
    "CASE WHEN len(list_filter(str_split({q}, '&'), {flt})) = 0 THEN ''"
    " ELSE '?' || array_to_string(list_sort(list_filter(str_split({q}, '&'), {flt})), '&') END"
)

# Multi-label public suffixes (r11 verdict item 6 — the 4-suffix
# embedded stand-in upgraded to a real suffix DIM): ~110 two-label
# entries drawn from the public suffix list (publicsuffix.org, public
# knowledge). Joined as an explicit broadcast() — the allowed bounded
# broadcast class: fixed-size reference data that never scales with
# the corpus (the full PSL is ~10k rows; same class). 1-label
# suffixes need no rows (suffix + 1 label == the last-2 default), and
# 3-label PSL entries (rare *.kawasaki.jp style wildcards) are a
# documented non-goal of the bounded model.
PUBLIC_SUFFIXES_2LABEL = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "net.uk", "sch.uk", "me.uk",
    "ltd.uk", "plc.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "ad.jp", "ed.jp", "go.jp",
    "gr.jp", "lg.jp",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "geek.nz", "gen.nz",
    "school.nz",
    "com.br", "net.br", "org.br", "gov.br", "edu.br", "mil.br", "art.br",
    "com.mx", "net.mx", "org.mx", "gob.mx", "edu.mx",
    "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in", "ac.in",
    "edu.in", "res.in", "gov.in", "mil.in", "nic.in",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn", "mil.cn",
    "com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg", "per.sg",
    "co.za", "net.za", "org.za", "gov.za", "edu.za", "ac.za", "web.za",
    "com.tr", "net.tr", "org.tr", "gov.tr", "edu.tr", "av.tr", "bbs.tr",
    "com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar", "int.ar",
    "co.kr", "ne.kr", "or.kr", "re.kr", "pe.kr", "go.kr", "mil.kr",
    "ac.kr", "hs.kr", "ms.kr", "es.kr", "sc.kr", "kg.kr",
    "com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk", "idv.hk",
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "idv.tw",
    "co.il", "net.il", "org.il", "ac.il", "gov.il", "muni.il", "idf.il",
    "com.my", "net.my", "org.my", "edu.my", "gov.my", "mil.my",
)

# DuckDB mirror: the SAME table as a VALUES CTE (named ``psl``)
_PSL_CTE_DUCK = "psl(suffix) AS (VALUES " + ", ".join(
    f"('{s}')" for s in PUBLIC_SUFFIXES_2LABEL
) + ")"


def public_suffix_dim(spark) -> DataFrame:
    """The suffix dim as a DataFrame — ~110 rows, LocalTableScan (no
    corpus provenance, so the corpus-broadcast sweep proves it bounded
    by construction)."""
    return spark.createDataFrame(
        [(s,) for s in PUBLIC_SUFFIXES_2LABEL], "suffix string"
    )


def with_registrable_domain(df: DataFrame, host_col: str = "host") -> DataFrame:
    """Adds ``registrable_domain`` via the PSL broadcast-dim join: the
    host's last-2-label tail probes the suffix dim (explicit
    ``broadcast()`` — estimate-fed broadcasts are off session-wide);
    a hit registers at 3 labels, a miss falls back to the PSL default
    rule (last 2 labels; 1-label hosts pass through)."""
    dim = F.broadcast(public_suffix_dim(df.sparkSession))
    return (
        df.withColumn("__labels", F.expr(f"split({host_col}, '\\\\.')"))
        .withColumn(
            "__cand2",
            F.expr(
                "CASE WHEN size(__labels) >= 3 THEN"
                " element_at(__labels, -2) || '.' || element_at(__labels, -1)"
                " END"
            ),
        )
        .join(dim, F.col("__cand2") == F.col("suffix"), "left")
        .withColumn(
            "registrable_domain",
            F.expr(
                f"CASE WHEN size(__labels) <= 1 THEN {host_col}"
                " WHEN suffix IS NOT NULL"
                " THEN element_at(__labels, -3) || '.' || __cand2"
                " ELSE element_at(__labels, -2) || '.'"
                "  || element_at(__labels, -1) END"
            ),
        )
        .drop("__labels", "__cand2", "suffix")
    )


# DuckDB mirror of the join + CASE (host column named ``host``; the
# FROM side must LEFT JOIN psl on the same last-2-label probe)
_REG_JOIN_DUCK = (
    "CASE WHEN len(str_split(host, '.')) <= 1 THEN host"
    " WHEN psl.suffix IS NOT NULL"
    " THEN str_split(host, '.')[-3] || '.' || psl.suffix"
    " ELSE str_split(host, '.')[-2] || '.' || str_split(host, '.')[-1] END"
)
_PSL_JOIN_COND_DUCK = (
    "len(str_split(host, '.')) >= 3"
    " AND str_split(host, '.')[-2] || '.' || str_split(host, '.')[-1]"
    " = psl.suffix"
)


def with_canonical_url(
    df: DataFrame, url_col: str = "url", registrable: bool = True
) -> DataFrame:
    """Adds ``canon_url``, ``host`` (+ ``registrable_domain`` unless
    ``registrable=False``) to a frame with a URL column — the chain is
    Catalyst-collapsible column arithmetic (WholeStageCodegen, no
    UDFs) plus the one bounded PSL broadcast-dim hash join for the
    registrable domain. Pass ``registrable=False`` when the caller
    never reads the registrable domain: Catalyst cannot eliminate the
    left dim join on its own (suffix uniqueness is unprovable from the
    plan), and in per-micro-batch use the dead join re-plans and
    re-broadcasts EVERY batch — measured +1.8 s on streaming_url_dedup
    (4.2 → 6.0 s) before this knob existed."""
    flt = TRACKING_FILTER_SQL
    reg = with_registrable_domain if registrable else (lambda x: x)
    return reg(
        df.withColumn("__nofrag", F.expr(f"split_part({url_col}, '#', 1)"))
        .withColumn("__scheme", F.expr("lower(split_part(__nofrag, '://', 1))"))
        .withColumn(
            "__rest",
            F.expr("substr(__nofrag, length(split_part(__nofrag, '://', 1)) + 4)"),
        )
        .withColumn("__auth0", F.expr("lower(split_part(__rest, '/', 1))"))
        .withColumn("__pathq", F.expr("substr(__rest, length(__auth0) + 1)"))
        # r12: strip userinfo — host[:port] is everything after the
        # first '@' (RFC 3986: '@' in userinfo must be %-encoded, so
        # the first literal '@' ends it; the host can't contain '@')
        .withColumn(
            "__auth",
            F.expr(
                "CASE WHEN instr(__auth0, '@') > 0"
                " THEN substr(__auth0, instr(__auth0, '@') + 1)"
                " ELSE __auth0 END"
            ),
        )
        .withColumn("__host0", F.expr("split_part(__auth, ':', 1)"))
        .withColumn(
            "__port",
            F.expr(
                "CASE WHEN instr(__auth, ':') > 0"
                " THEN substr(__auth, instr(__auth, ':') + 1) ELSE '' END"
            ),
        )
        .withColumn(
            "host",
            F.expr(
                "CASE WHEN __host0 LIKE 'www.%' THEN substr(__host0, 5)"
                " ELSE __host0 END"
            ),
        )
        .withColumn(
            "__portc",
            F.expr(
                "CASE WHEN __port = '' OR (__scheme = 'http' AND __port = '80')"
                " OR (__scheme = 'https' AND __port = '443')"
                " THEN '' ELSE ':' || __port END"
            ),
        )
        .withColumn(
            "__path0",
            F.expr(
                "CASE WHEN instr(__pathq, '?') > 0"
                " THEN substr(__pathq, 1, instr(__pathq, '?') - 1)"
                " ELSE __pathq END"
            ),
        )
        .withColumn(
            "__query0",
            F.expr(
                "CASE WHEN instr(__pathq, '?') > 0"
                " THEN substr(__pathq, instr(__pathq, '?') + 1) ELSE '' END"
            ),
        )
        .withColumn("__path1", F.expr(_PCT_SPARK.format(x="__path0")))
        # r12: collapse duplicate slashes. %2F is reserved (never
        # decoded by the pct pass above), so the collapse cannot be
        # induced by decoding — only literal '//' runs collapse.
        .withColumn("__path2", F.expr("regexp_replace(__path1, '/{2,}', '/')"))
        .withColumn(
            "__pathc",
            F.expr(
                "CASE WHEN __path2 = '' THEN '/'"
                " WHEN length(__path2) > 1"
                "  AND substr(__path2, length(__path2), 1) = '/'"
                " THEN substr(__path2, 1, length(__path2) - 1)"
                " ELSE __path2 END"
            ),
        )
        # r12: percent-normalize the QUERY string too — '&'/'=' are
        # reserved octets (never decoded), so normalizing the whole
        # string before the split cannot move param boundaries
        .withColumn("__query1", F.expr(_PCT_SPARK.format(x="__query0")))
        .withColumn(
            "__qparams", F.expr(_QPARAMS_SPARK.format(q="__query1", flt=flt))
        )
        .withColumn("__qc", F.expr(_QCANON_SPARK.format(p="__qparams")))
        .withColumn(
            "canon_url",
            F.expr("__scheme || '://' || host || __portc || __pathc || __qc"),
        )
        .drop(
            "__nofrag", "__scheme", "__rest", "__auth0", "__auth", "__pathq",
            "__host0", "__port", "__portc", "__path0", "__query0", "__query1",
            "__path1", "__path2", "__pathc", "__qparams", "__qc",
        )
    )


def _canon_cte_duck(raw_select: str) -> str:
    """DuckDB CTE chain mirroring with_canonical_url over ``raw``
    (must yield columns ending in ``url``; keeps every raw column).
    Includes the ``psl`` suffix-table CTE (the dim's VALUES mirror)
    LEFT-JOINed exactly like the Spark broadcast join."""
    flt = TRACKING_FILTER_SQL
    return f"""
WITH {_PSL_CTE_DUCK},
raw AS ({raw_select}),
p1 AS (SELECT *, split_part(url, '#', 1) AS nofrag FROM raw),
p2 AS (SELECT *, lower(split_part(nofrag, '://', 1)) AS scheme,
              substr(nofrag, length(split_part(nofrag, '://', 1)) + 4) AS rest
       FROM p1),
p3 AS (SELECT *, lower(split_part(rest, '/', 1)) AS auth0,
              substr(rest, length(split_part(rest, '/', 1)) + 1) AS pathq
       FROM p2),
p3b AS (SELECT *, CASE WHEN instr(auth0, '@') > 0
                       THEN substr(auth0, instr(auth0, '@') + 1)
                       ELSE auth0 END AS auth
        FROM p3),
p4 AS (SELECT *, split_part(auth, ':', 1) AS host0,
              CASE WHEN instr(auth, ':') > 0
                   THEN substr(auth, instr(auth, ':') + 1) ELSE '' END AS port
       FROM p3b),
p5 AS (SELECT *,
              CASE WHEN host0 LIKE 'www.%' THEN substr(host0, 5) ELSE host0 END AS host,
              CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                   OR (scheme = 'https' AND port = '443')
                   THEN '' ELSE ':' || port END AS portc,
              CASE WHEN instr(pathq, '?') > 0
                   THEN substr(pathq, 1, instr(pathq, '?') - 1) ELSE pathq END AS path0,
              CASE WHEN instr(pathq, '?') > 0
                   THEN substr(pathq, instr(pathq, '?') + 1) ELSE '' END AS query0
       FROM p4),
p6 AS (SELECT *, {_PCT_DUCK.format(x='path0')} AS path1,
              {_PCT_DUCK.format(x='query0')} AS query1
       FROM p5),
p6b AS (SELECT *, regexp_replace(path1, '/{{2,}}', '/', 'g') AS path2 FROM p6),
p7 AS (SELECT *,
              CASE WHEN path2 = '' THEN '/'
                   WHEN length(path2) > 1 AND substr(path2, length(path2), 1) = '/'
                   THEN substr(path2, 1, length(path2) - 1)
                   ELSE path2 END AS pathc,
              {_QCANON_DUCK.format(q='query1', flt=flt)} AS qc
       FROM p6b),
canon AS (SELECT p7.*, scheme || '://' || host || portc || pathc || qc AS canon_url,
                 {_REG_JOIN_DUCK} AS registrable_domain
          FROM p7 LEFT JOIN psl ON {_PSL_JOIN_COND_DUCK})
"""


def _with_host_only(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Adds ``host`` + ``registrable_domain`` WITHOUT the path/query
    normalization — the authority derivation alone (lowercase, strip
    userinfo, strip port, strip www.) plus the PSL dim join. Canon-
    host-identical by construction (same expressions as
    with_canonical_url's host chain); exists because fusing the full
    canon chain into an aggregate/join stage blew janino's 64 KB
    method cap (see q_host_filtered_docs docstring)."""
    return with_registrable_domain(
        df.withColumn("__auth0", F.expr(
            f"lower(split_part(split_part(split_part({url_col}, '#', 1),"
            " '://', 2), '/', 1))"
        ))
        .withColumn("__auth", F.expr(
            "CASE WHEN instr(__auth0, '@') > 0"
            " THEN substr(__auth0, instr(__auth0, '@') + 1)"
            " ELSE __auth0 END"
        ))
        .withColumn("__host0", F.expr("split_part(__auth, ':', 1)"))
        .withColumn("host", F.expr(
            "CASE WHEN __host0 LIKE 'www.%' THEN substr(__host0, 5)"
            " ELSE __host0 END"
        ))
        .drop("__auth0", "__auth", "__host0")
    )


# ---------------------------------------------------------------------------
# gates
# ---------------------------------------------------------------------------


def _docs_with_url(spark, sf_dir) -> DataFrame:
    d = _spread(spark, _t(spark, sf_dir, "documents")).select(
        "doc_id", "source", "lang", "n_chars"
    )
    return d.withColumn("url", F.expr(messy_url_spark(0)))


def q_url_canonicalize(spark, sf_dir):
    """URL CANONICALIZATION: messy crawl URL → canonical form + host +
    registrable domain. Column arithmetic fused into the scan plus ONE
    bounded PSL broadcast-dim hash join — at 100 TB this is still a
    single scan-side stage (WholeStageCodegen, zero KEYED exchanges,
    zero UDFs; the broadcast is ~110 fixed rows)."""
    return with_canonical_url(_docs_with_url(spark, sf_dir)).select(
        "doc_id", "url", "canon_url", "host", "registrable_domain"
    )


ORACLE_URL_CANONICALIZE = (
    _canon_cte_duck(
        "SELECT doc_id, "
        + messy_url_duck(0)
        + " AS url FROM documents"
    )
    + "SELECT doc_id, url, canon_url, host, registrable_domain FROM canon"
)


def q_url_dedup_canonical(spark, sf_dir):
    """CANONICAL-URL DEDUP: each doc arrives via 3 differently-messy
    raw URLs (mirror/syndication simulation); group by canonical form.
    n_raw = 3 x n_docs on every row proves the collapse. One groupBy
    shuffle on canon_url — at 100 TB the canonical string is the dedup
    key exactly as in CommonCrawl index dedup."""
    d = _spread(spark, _t(spark, sf_dir, "documents")).select(
        "doc_id", "source", "lang"
    )
    raw = d.select(
        "doc_id",
        F.explode(
            F.array(
                F.expr(messy_url_spark(0)),
                F.expr(messy_url_spark(1)),
                F.expr(messy_url_spark(2)),
            )
        ).alias("url"),
    )
    return (
        with_canonical_url(raw)
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc"),
            F.min("url").alias("min_url"),
        )
    )


ORACLE_URL_DEDUP = (
    _canon_cte_duck(
        "SELECT doc_id, unnest(["
        + messy_url_duck(0)
        + ", "
        + messy_url_duck(1)
        + ", "
        + messy_url_duck(2)
        + "]) AS url FROM documents"
    )
    + """
SELECT canon_url,
       count(*) AS n_raw,
       count(DISTINCT doc_id) AS n_docs,
       min(doc_id) AS keeper_doc,
       min(url) AS min_url
FROM canon GROUP BY canon_url
"""
)


# host-reputation rule: enough documents to judge, and an average
# quality proxy above the bar. The proxy (chars capped at 400) is
# integer per doc, averaged through DECIMAL(38,10) so both engines
# land on the same double (core.py module doc).
_MIN_DOCS = 10
_MIN_AVG_QUALITY = 280.0


def _host_rollup(spark, sf_dir) -> DataFrame:
    per_doc = with_canonical_url(_docs_with_url(spark, sf_dir))
    return per_doc.groupBy("registrable_domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("host").alias("n_hosts"),
        F.countDistinct("canon_url").alias("n_urls"),
        _davg(F.least(F.col("n_chars"), F.lit(400))).alias("avg_quality"),
    ).withColumn(
        "keep",
        (F.col("n_docs") >= _MIN_DOCS)
        & (F.col("avg_quality") >= _MIN_AVG_QUALITY),
    )


def q_host_reputation_rollup(spark, sf_dir):
    """HOST REPUTATION ROLLUP: per-registrable-domain doc counts,
    distinct hosts/URLs, decimal-exact average quality proxy, and the
    keep decision. One map-side-combinable groupBy — the domain
    relation is corpus-scaled (10^7+ at crawl scale), so downstream
    joins stay shuffle joins, never broadcasts."""
    return _host_rollup(spark, sf_dir)


_ROLLUP_DUCK_BODY = f"""
SELECT registrable_domain,
       count(*) AS n_docs,
       count(DISTINCT host) AS n_hosts,
       count(DISTINCT canon_url) AS n_urls,
       {davg_sql('least(n_chars, 400)')} AS avg_quality
FROM canon GROUP BY registrable_domain
"""

ORACLE_HOST_ROLLUP = (
    _canon_cte_duck(
        "SELECT doc_id, source, lang, n_chars, "
        + messy_url_duck(0)
        + " AS url FROM documents"
    )
    + f""", rollup_agg AS ({_ROLLUP_DUCK_BODY})
SELECT *, n_docs >= {_MIN_DOCS} AND avg_quality >= {_MIN_AVG_QUALITY} AS keep
FROM rollup_agg
"""
)


def q_host_filtered_docs(spark, sf_dir):
    """HOST-REPUTATION FILTER: docs joined back against the domains
    that pass the rollup rule — the pre-pass a crawl pipeline runs
    before any per-document scoring.

    Plan shape: ONE repartition(registrable_domain) exchange feeds
    BOTH the rollup aggregate and the join's doc side — ReuseExchange
    dedups the identical subtrees, so the canonicalization chain runs
    ONCE and the post-shuffle stages (agg, join) carry none of it.
    Two reasons over the naive rollup-then-join composition: (a) the
    per-doc rows must shuffle on registrable_domain for the join
    anyway, so pre-partitioning costs nothing extra while saving the
    rollup's second canonicalization pass + its separate agg exchange;
    (b) fusing the full canon chain into a partial-HashAggregate stage
    pushed the generated hashAgg method past janino's 64 KB cap
    (interpreted fallback, measured ~3x wall). AQE skew-split handles
    mega-hosts; the rollup side is corpus-scaled so never broadcast."""
    # host-only extraction: this gate's keep rule reads n_docs +
    # avg_quality, so the heavy path/query normalization is dead code
    # on this path — registrable_domain derives from the authority
    # alone (oracle-identical; the full chain's stage also blew the
    # 64 KB codegen method cap when fused here)
    per_doc = _with_host_only(_docs_with_url(spark, sf_dir)).select(
        "doc_id",
        "registrable_domain",
        F.least(F.col("n_chars"), F.lit(400)).alias("__quality"),
    )
    part = per_doc.repartition(F.col("registrable_domain"))
    good = (
        part.groupBy("registrable_domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            _davg(F.col("__quality")).alias("avg_quality"),
        )
        .filter(
            (F.col("n_docs") >= _MIN_DOCS)
            & (F.col("avg_quality") >= _MIN_AVG_QUALITY)
        )
        .select("registrable_domain")
    )
    # null-safe equi-join, deliberately: an inner equi-join makes
    # Catalyst infer isnotnull(registrable_domain) and push it below
    # the exchange, SUBSTITUTING the whole synthesis+derivation
    # expression into one Filter whose generated method blows the
    # janino 64 KB cap (measured: interpreted fallback). The key is
    # never null (non-null string concat), so <=> is semantically
    # identical and keeps every stage inside codegen.
    docs_side = part.select("doc_id", "registrable_domain")
    return docs_side.join(
        good,
        docs_side["registrable_domain"].eqNullSafe(
            good["registrable_domain"]
        ),
    ).select(docs_side["doc_id"], docs_side["registrable_domain"])


ORACLE_HOST_FILTERED = (
    _canon_cte_duck(
        "SELECT doc_id, source, lang, n_chars, "
        + messy_url_duck(0)
        + " AS url FROM documents"
    )
    + f""", rollup_agg AS ({_ROLLUP_DUCK_BODY}),
good AS (
  SELECT registrable_domain FROM rollup_agg
  WHERE n_docs >= {_MIN_DOCS} AND avg_quality >= {_MIN_AVG_QUALITY}
)
SELECT c.doc_id, c.registrable_domain
FROM canon c JOIN good g USING (registrable_domain)
"""
)


WEBOPS_QUERIES = {
    "url_canonicalize": q_url_canonicalize,
    "url_dedup_canonical": q_url_dedup_canonical,
    "host_reputation_rollup": q_host_reputation_rollup,
    "host_filtered_docs": q_host_filtered_docs,
}
WEBOPS_ORACLES = {
    "url_canonicalize": ORACLE_URL_CANONICALIZE,
    "url_dedup_canonical": ORACLE_URL_DEDUP,
    "host_reputation_rollup": ORACLE_HOST_ROLLUP,
    "host_filtered_docs": ORACLE_HOST_FILTERED,
}


# ---------------------------------------------------------------------------
# streaming twin: ingest-time canonical-URL dedup
# ---------------------------------------------------------------------------


def q_streaming_url_dedup(spark, sf_dir):
    """STREAMING CANONICAL-URL DEDUP — the ingest-path twin of
    ``url_dedup_canonical`` and THE crawl-frontier pattern: mirrors/
    syndicated copies of a page arrive over time as differently-messy
    raw URLs; each micro-batch canonicalizes its arrivals and flags
    every arrival whose canonical form was already seen — an earlier
    batch via the accumulated canonical-URL store, earlier in-batch
    via min-arrival firsts — then appends its UNSEEN canonical URLs to
    the store. Arrivals are ordered (arrival = doc_id*3 + variant;
    batches partitioned by arrival range), so the final per-arrival
    verdict must equal the batch semantics exactly ("canonical URL
    first held by a smaller arrival") — the gate's oracle is that
    batch SQL, proving the incremental state transition lossless, the
    same discipline as the novelty/winnowed gates.

    100 TB notes: state is ONE ROW PER DISTINCT CANONICAL URL — the
    minimal exact dedup ledger (what a crawl frontier keeps anyway);
    per-batch work is one left join against the store plus one window
    min over canon_url (``streaming/ledger.py``)."""
    from ..streaming.ledger import first_seen_ledger

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    arrivals = d.select(
        "doc_id",
        F.posexplode(
            F.array(
                F.expr(messy_url_spark(0)),
                F.expr(messy_url_spark(1)),
                F.expr(messy_url_spark(2)),
            )
        ).alias("variant", "url"),
    ).withColumn("arrival", F.col("doc_id") * 3 + F.col("variant"))

    def canonical(batch_df):
        return (
            # registrable=False: this gate never reads the registrable
            # domain, and the dead PSL join would re-plan+re-broadcast
            # per micro-batch
            with_canonical_url(batch_df, registrable=False)
            .select("doc_id", "variant", "arrival", "canon_url")
            # keep the canonicalizer chain in its OWN map-only codegen
            # unit (the r11 janino-64KB lesson): fused into the
            # join+window stage it falls out of WholeStageCodegen
            .localCheckpoint(eager=True)
        )

    def verdicts(j):
        return j.select(
            "doc_id",
            "variant",
            (
                F.coalesce(F.col("__prior"), F.lit(False))
                | (F.col("__first") < F.col("arrival"))
            ).alias("is_dup"),
        )

    return first_seen_ledger(
        spark, "streaming_url_dedup", arrivals, "arrival", "canon_url",
        canonical, verdicts,
    ).select("doc_id", "variant", "is_dup")


_ARRIVALS_DUCK = " UNION ALL ".join(
    f"SELECT doc_id, {v} AS variant, doc_id * 3 + {v} AS arrival, "
    + messy_url_duck(v)
    + " AS url FROM documents"
    for v in (0, 1, 2)
)

# lossless incremental state transition: the BATCH semantics, verbatim
ORACLE_STREAMING_URL_DEDUP = (
    _canon_cte_duck(_ARRIVALS_DUCK)
    + """
, firsts AS (
  SELECT canon_url, min(arrival) AS first_arrival FROM canon
  GROUP BY canon_url
)
SELECT c.doc_id, c.variant, c.arrival > f.first_arrival AS is_dup
FROM canon c JOIN firsts f USING (canon_url)
"""
)

WEBOPS_QUERIES["streaming_url_dedup"] = q_streaming_url_dedup
WEBOPS_ORACLES["streaming_url_dedup"] = ORACLE_STREAMING_URL_DEDUP


# ---------------------------------------------------------------------------
# host link graph (r12 — r11 verdict item 8): deterministic per-doc
# outlinks lifted to host→host edges, then PageRank at host
# granularity — the host-authority signal crawl curation uses next to
# host reputation. Composes the URL family's host derivation with the
# graph family's unrolled-trajectory oracle discipline
# (q_graph_pagerank precedent, extensions.py).
# ---------------------------------------------------------------------------

# doc d's k-th outlink targets doc ((d*31 + 17k) div (1 + 3k)) mod n
# — the same deterministic-synthesis discipline as the messy-URL
# template (the testdata has no link column). The div term shrinks the
# pre-mod range as k grows, so later outlinks CONCENTRATE on a subset
# of target docs: the resulting host in-degree distribution is skewed
# (measured 17-35 distinct neighbors at sf0.001 vs 11-13 for the
# uniform formula), giving the authority signal real spread — and a
# mega-host class for the rollup/pagerank plans to face, like real
# crawl graphs.
N_OUTLINKS = 3
_LINK_MULT, _LINK_STEP = 31, 17


def _doc_hosts(spark, sf_dir) -> DataFrame:
    # bare authority-host derivation — deliberately WITHOUT
    # with_registrable_domain: the link gates never read the
    # registrable domain, and Catalyst cannot eliminate the (left)
    # PSL join on its own, so including it would drag a dead
    # broadcast join through every edge plan
    d = _docs_with_url(spark, sf_dir)
    return (
        d.withColumn("__auth0", F.expr(
            "lower(split_part(split_part(split_part(url, '#', 1),"
            " '://', 2), '/', 1))"
        ))
        .withColumn("__auth", F.expr(
            "CASE WHEN instr(__auth0, '@') > 0"
            " THEN substr(__auth0, instr(__auth0, '@') + 1)"
            " ELSE __auth0 END"
        ))
        .withColumn("__host0", F.expr("split_part(__auth, ':', 1)"))
        .withColumn("host", F.expr(
            "CASE WHEN __host0 LIKE 'www.%' THEN substr(__host0, 5)"
            " ELSE __host0 END"
        ))
        .select("doc_id", "host")
    )


def _host_edges(spark, sf_dir) -> DataFrame:
    """(src_host, dst_host) link rows — one row per non-self-loop
    outlink. Plan: the synthesized target id is a cheap computed
    column, so the doc→target lookup is ONE shuffle equi-join on
    target_id (both sides corpus-scaled — never broadcast); host
    derivation on each side is scan-fused column arithmetic + the
    bounded PSL broadcast. Self-loops (intra-site links) are dropped:
    they carry no cross-host authority."""
    hosts = _doc_hosts(spark, sf_dir)
    n = hosts.count()  # bounded driver metadata (corpus row count)
    links = hosts.select(
        F.col("host").alias("src_host"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {N_OUTLINKS - 1}),"
                f" k -> ((doc_id * {_LINK_MULT} + {_LINK_STEP} * k)"
                f" div (1 + 3 * k)) % {n})"
            )
        ).alias("target_id"),
    )
    tgt = hosts.select(
        F.col("doc_id").alias("target_id"), F.col("host").alias("dst_host")
    )
    # null-safe inequality, deliberately (r11 lesson, PLANS.md): a
    # plain != makes Catalyst infer isnotnull(src_host)/isnotnull(
    # dst_host) and push them below the join, SUBSTITUTING the whole
    # URL-synthesis + host-derivation expression into one Filter whose
    # generated method blows janino's 64 KB cap (measured: 84 KB plan,
    # interpreted fallback). Hosts are never null (non-null string
    # concat), so NOT(<=>) is semantically identical and keeps every
    # stage inside codegen.
    return links.join(tgt, "target_id").filter(
        ~F.col("src_host").eqNullSafe(F.col("dst_host"))
    )


def q_host_link_edges(spark, sf_dir):
    """HOST LINK EDGES: the host→host link graph with link counts —
    one equi-join (doc outlink → target doc) + one groupBy; no
    cartesian, no corpus-side broadcast."""
    return _host_edges(spark, sf_dir).groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).alias("n_links")
    )


# shared DuckDB CTE tail: canon (host per doc) → links → edges
_EDGES_DUCK_TAIL = f"""
, nn0 AS (SELECT count(*) AS n FROM documents),
ks(k) AS (VALUES (0), (1), (2)),
links AS (SELECT c.host AS src_host,
                 ((c.doc_id * {_LINK_MULT} + {_LINK_STEP} * k.k) // (1 + 3 * k.k)) % nn0.n AS target_id
          FROM canon c CROSS JOIN ks k CROSS JOIN nn0),
edge_rows AS (SELECT l.src_host, t.host AS dst_host
              FROM links l JOIN canon t ON t.doc_id = l.target_id
              WHERE l.src_host <> t.host)
"""

ORACLE_HOST_LINK_EDGES = (
    _canon_cte_duck(
        "SELECT doc_id, " + messy_url_duck(0) + " AS url FROM documents"
    )
    + _EDGES_DUCK_TAIL
    + """
SELECT src_host, dst_host, count(*) AS n_links
FROM edge_rows GROUP BY src_host, dst_host
"""
)


HOST_PAGERANK_ITERS = 5
HOST_PAGERANK_DAMPING = 0.85


def q_host_pagerank(spark, sf_dir):
    """HOST PAGERANK (5 fixed iterations, d=0.85) over the DIRECTED
    distinct host link graph — unlike the symmetric near-dup PageRank
    (q_graph_pagerank), authority flows along link direction, and
    hosts with in-links but no out-links must still hold rank: each
    iteration LEFT-joins the full node set against the contribution
    rollup (coalesce 0), so the rank relation stays complete.

    Exactness: per-iteration neighbor sums pass through
    decimal(38,15) before the double cast (accumulation-order-proof;
    same discipline as q_graph_pagerank), making 5 unrolled oracle
    iterations bit-reproducible cross-engine.

    Plan: edges/nodes materialize once (eager localCheckpoint — the
    synthesis plan must not replay per iteration); each iteration is
    one equi-join + keyed aggregate + one left equi-join. Node
    cardinality is the HOST domain (corpus-scaled at crawl scale) —
    never broadcast."""
    e = (
        _host_edges(spark, sf_dir)
        .select("src_host", "dst_host")
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src_host").alias("node"))
        .union(e.select(F.col("dst_host").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()  # bounded driver metadata: host count
    deg = e.groupBy("src_host").agg(F.count(F.lit(1)).alias("deg"))
    edl = e.join(deg, "src_host").localCheckpoint(eager=True)
    r = nodes.select("node", F.lit(1.0 / n).alias("r"))
    for _ in range(HOST_PAGERANK_ITERS):
        contrib = edl.join(r, edl.src_host == r.node).select(
            "dst_host", (F.col("r") / F.col("deg")).alias("c")
        )
        agg = contrib.groupBy(F.col("dst_host").alias("node")).agg(
            F.sum(F.col("c").cast("decimal(38,15)")).cast("double").alias("s")
        )
        r = nodes.join(agg, "node", "left").select(
            "node",
            (
                F.lit(0.15 / n)
                + F.lit(HOST_PAGERANK_DAMPING)
                * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("r"),
        )
    return r.select(
        F.col("node").alias("host"), F.round("r", 6).alias("pagerank")
    )


def _host_pagerank_oracle() -> str:
    prev = "r0"
    iters = []
    for i in range(1, HOST_PAGERANK_ITERS + 1):
        iters.append(
            f"""r{i} AS (
  SELECT nd.node,
         0.15 / nn.n + {HOST_PAGERANK_DAMPING} * COALESCE(agg.s, 0) AS r
  FROM nodes nd CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst_host AS node,
           CAST(CAST(SUM(CAST({prev}.r / deg.deg AS DECIMAL(38,15))) AS VARCHAR) AS DOUBLE) AS s
    FROM edges e
    JOIN {prev} ON {prev}.node = e.src_host
    JOIN deg ON deg.node = e.src_host
    GROUP BY e.dst_host
  ) agg ON agg.node = nd.node
)"""
        )
        prev = f"r{i}"
    return (
        _canon_cte_duck(
            "SELECT doc_id, " + messy_url_duck(0) + " AS url FROM documents"
        )
        + _EDGES_DUCK_TAIL
        + f""",
edges AS (SELECT DISTINCT src_host, dst_host FROM edge_rows),
nodes AS (SELECT src_host AS node FROM edges
          UNION SELECT dst_host FROM edges),
deg AS (SELECT src_host AS node, count(*) AS deg FROM edges
        GROUP BY src_host),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
{','.join(iters)}
SELECT node AS host, round(r, 6) AS pagerank FROM {prev}
"""
    )


WEBOPS_QUERIES["host_link_edges"] = q_host_link_edges
WEBOPS_ORACLES["host_link_edges"] = ORACLE_HOST_LINK_EDGES
WEBOPS_QUERIES["host_pagerank"] = q_host_pagerank
WEBOPS_ORACLES["host_pagerank"] = _host_pagerank_oracle()



# ---------------------------------------------------------------------------
# crawl-frontier budget waves (r12): per-host politeness scheduling
# ---------------------------------------------------------------------------

CRAWL_BUDGET_PER_WAVE = 5
CRAWL_MAX_WAVES = 3


def q_crawl_budget_waves(spark, sf_dir):
    """CRAWL BUDGET WAVES — per-host politeness scheduling, the step
    between frontier dedup (streaming_url_dedup) and fetching: rank
    each host's URLs by priority (quality proxy desc, doc_id asc —
    total order), allocate B=5 fetch slots per politeness wave, keep
    the first W=3 waves; ``wave = (rank-1) div B`` is the round the
    fetcher dispatches the URL in, so no host sees more than B
    requests per round and low-priority tail URLs fall off the
    frontier.

    Plan: ONE window over PARTITION BY host. Host cardinality is
    corpus-scaled (10^7+ registrable hosts at crawl scale), so the
    per-host partitions are naturally parallel — the grouped_rank
    low-cardinality rewrite (operators/ranking.py) is deliberately
    NOT used here; it exists for the opposite shape (5 languages over
    100 TB). AQE skew-split handles mega-hosts. rank/wave cast to
    BIGINT to match the window dialect of the oracle."""
    b, w_max = CRAWL_BUDGET_PER_WAVE, CRAWL_MAX_WAVES
    d = _docs_with_url(spark, sf_dir)
    hosts = (
        d.withColumn("__auth0", F.expr(
            "lower(split_part(split_part(split_part(url, '#', 1),"
            " '://', 2), '/', 1))"
        ))
        .withColumn("__auth", F.expr(
            "CASE WHEN instr(__auth0, '@') > 0"
            " THEN substr(__auth0, instr(__auth0, '@') + 1)"
            " ELSE __auth0 END"
        ))
        .withColumn("__host0", F.expr("split_part(__auth, ':', 1)"))
        .withColumn("host", F.expr(
            "CASE WHEN __host0 LIKE 'www.%' THEN substr(__host0, 5)"
            " ELSE __host0 END"
        ))
        .withColumn("__q", F.least(F.col("n_chars"), F.lit(400)))
        .select("doc_id", "host", "__q")
    )
    order = [F.col("__q").desc(), F.col("doc_id").asc()]
    return (
        top_k_per_group(hosts, "host", order, b * w_max, "host_rank", keep_rank=True)
        .withColumn("host_rank", F.col("host_rank").cast("long"))
        .withColumn(
            "wave", F.expr(f"CAST((host_rank - 1) div {b} AS BIGINT)")
        )
        .select("doc_id", "host", "host_rank", "wave")
    )


ORACLE_CRAWL_BUDGET_WAVES = (
    _canon_cte_duck(
        "SELECT doc_id, n_chars, "
        + messy_url_duck(0)
        + " AS url FROM documents"
    )
    + f"""
SELECT doc_id, host,
       CAST(rk AS BIGINT) AS host_rank,
       CAST((rk - 1) // {CRAWL_BUDGET_PER_WAVE} AS BIGINT) AS wave
FROM (SELECT doc_id, host,
             row_number() OVER (PARTITION BY host
                 ORDER BY least(n_chars, 400) DESC, doc_id ASC) AS rk
      FROM canon)
WHERE rk <= {CRAWL_BUDGET_PER_WAVE * CRAWL_MAX_WAVES}
"""
)

WEBOPS_QUERIES["crawl_budget_waves"] = q_crawl_budget_waves
WEBOPS_ORACLES["crawl_budget_waves"] = ORACLE_CRAWL_BUDGET_WAVES


# ---------------------------------------------------------------------------
# robots-style longest-prefix policy filter (r12)
# ---------------------------------------------------------------------------

# per-host rule synthesis: the testdata has no robots.txt corpus, so
# each host derives a deterministic 4-rule ladder from two portable
# host scalars (a = ascii(first char), h = length(host)) — same
# discipline as the messy-URL template. The ladder is genuinely
# hierarchical (allow -> disallow -> re-allow -> re-disallow by
# strictly increasing prefix length), so the longest-match semantics
# decide real verdicts:
#   r0  '/'                                  allow   (crawl default)
#   r1  '/articles/<d>'        d=(a*7+h)%10  disallow (RAW prefix: for
#       d=1 this blocks sections 1 and 10-19 — robots.txt prefixes
#       are plain string prefixes, not path segments, and the gate
#       keeps that faithful sharpness)
#   r2  '/articles/<d><s>'     s=(a+h)%10    re-allow (the two-digit
#       section d*10+s, when it exists; for d>=3 no section matches
#       and the rule is inert — a normal robots.txt reality)
#   r3  r2 || '/~user<u>'      u=(a+h)%7     re-disallow (one user's
#       pages inside the re-allowed section)
# Rule lengths are pairwise distinct, so the match is a total order;
# the standard allow-wins-on-tie rule is still encoded for fidelity.
_ROBOTS_RULES_SPARK = (
    "array("
    " named_struct('prefix', '/', 'allow', true),"
    " named_struct('prefix', '/articles/' || CAST((__ra * 7 + __rh) % 10 AS STRING),"
    "              'allow', false),"
    " named_struct('prefix', '/articles/' || CAST((__ra * 7 + __rh) % 10 AS STRING)"
    "              || CAST((__ra + __rh) % 10 AS STRING), 'allow', true),"
    " named_struct('prefix', '/articles/' || CAST((__ra * 7 + __rh) % 10 AS STRING)"
    "              || CAST((__ra + __rh) % 10 AS STRING)"
    "              || '/~user' || CAST((__ra + __rh) % 7 AS STRING),"
    "              'allow', false))"
)


def q_robots_prefix_filter(spark, sf_dir):
    """ROBOTS LONGEST-PREFIX FILTER — the fetch-policy gate a crawler
    runs between frontier scheduling (crawl_budget_waves) and the
    fetch itself: each host publishes prefix rules (robots.txt
    Allow/Disallow), a URL's verdict is the rule with the LONGEST
    matching prefix (allow wins ties, per the de-facto standard).

    Plan: ONE repartition(host) exchange feeds BOTH the per-host rule
    derivation (distinct hosts -> 4-rule array; partial agg reuses
    the partitioning, no second keyed exchange) and the doc side of
    the rules join (host-equi, null-safe per the r11 janino lesson —
    rules are PER-HOST relations, corpus-scaled in host count at
    crawl scale, so the join is a shuffle equi-join, never a
    broadcast). The match itself is a JVM higher-order pass over the
    4-element rule array (filter + aggregate pick-longest) — no row
    blow-up, no window, zero UDFs. AQE skew-split handles mega-hosts."""
    per_doc = (
        with_canonical_url(_docs_with_url(spark, sf_dir), registrable=False)
        .withColumn(
            "__rest", F.expr("substr(canon_url, instr(canon_url, '://') + 3)")
        )
        .withColumn(
            "path",
            F.expr("split_part(substr(__rest, instr(__rest, '/')), '?', 1)"),
        )
        .select("doc_id", "host", "path")
    )
    # the join below is null-safe (r11 janino lesson: plain equality
    # infers isnotnull(host) and substitutes the whole synthesis chain
    # into a pushed Filter), and a null-safe equi-join hashes on
    # (coalesce(key, ''), isnull(key)) — so the ONE big exchange
    # partitions by EXACTLY those derived keys: the doc side then
    # satisfies the join requirement as-is, ReuseExchange dedups the
    # rules branch, and the only other exchanges move host-cardinality
    # post-partial-agg rows (tiny at any scale)
    part = per_doc.repartition(
        F.expr("coalesce(host, '')"), F.expr("isnull(host)")
    )
    rules = (
        part.groupBy("host")
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn("__ra", F.expr("ascii(host)"))
        .withColumn("__rh", F.expr("length(host)"))
        .select(
            F.col("host").alias("__rhost"),
            F.expr(_ROBOTS_RULES_SPARK).alias("__rules"),
        )
    )
    docs_side = part.select("doc_id", "host", "path")
    joined = docs_side.join(
        rules, docs_side["host"].eqNullSafe(rules["__rhost"])
    )
    winner = (
        "aggregate("
        " filter(__rules, r -> startswith(path, r.prefix)),"
        " cast(null AS struct<prefix: string, allow: boolean>),"
        " (acc, r) -> CASE"
        "   WHEN acc IS NULL THEN r"
        "   WHEN length(r.prefix) > length(acc.prefix) THEN r"
        "   WHEN length(r.prefix) = length(acc.prefix)"
        "        AND r.allow AND NOT acc.allow THEN r"
        "   ELSE acc END)"
    )
    return joined.select(
        "doc_id",
        docs_side["host"].alias("host"),
        "path",
        F.expr(winner + ".prefix").alias("rule_prefix"),
        F.expr(winner + ".allow").alias("allowed"),
    )


ORACLE_ROBOTS_PREFIX = (
    _canon_cte_duck(
        "SELECT doc_id, " + messy_url_duck(0) + " AS url FROM documents"
    )
    + """
, hp AS (SELECT host, ascii(host) AS a, length(host) AS h
         FROM (SELECT DISTINCT host FROM canon)),
rules AS (
  SELECT host, '/' AS prefix, TRUE AS allow FROM hp
  UNION ALL
  SELECT host, '/articles/' || CAST((a * 7 + h) % 10 AS VARCHAR), FALSE FROM hp
  UNION ALL
  SELECT host, '/articles/' || CAST((a * 7 + h) % 10 AS VARCHAR)
               || CAST((a + h) % 10 AS VARCHAR), TRUE FROM hp
  UNION ALL
  SELECT host, '/articles/' || CAST((a * 7 + h) % 10 AS VARCHAR)
               || CAST((a + h) % 10 AS VARCHAR)
               || '/~user' || CAST((a + h) % 7 AS VARCHAR), FALSE FROM hp
),
matched AS (
  SELECT c.doc_id, c.host, c.pathc AS path, r.prefix, r.allow,
         row_number() OVER (
           PARTITION BY c.doc_id
           ORDER BY length(r.prefix) DESC, r.allow DESC, r.prefix
         ) AS rn
  FROM canon c JOIN rules r
    ON r.host = c.host AND starts_with(c.pathc, r.prefix)
)
SELECT doc_id, host, path, prefix AS rule_prefix, allow AS allowed
FROM matched WHERE rn = 1
"""
)

WEBOPS_QUERIES["robots_prefix_filter"] = q_robots_prefix_filter
WEBOPS_ORACLES["robots_prefix_filter"] = ORACLE_ROBOTS_PREFIX


# ---------------------------------------------------------------------------
# host mirror detection (r12)
# ---------------------------------------------------------------------------

# edition synthesis: the corpus assigns each doc exactly ONE canonical
# host (the messy-URL template's host fields are variant-independent),
# so cross-host content duplication — the thing mirror detection
# exists to find — cannot occur naturally and is SYNTHESIZED, same
# discipline as the outlink template: every doc keeps its original
# edition (tag 0); docs with id % 7 == 0 gain a partial-mirror edition
# on 'mirror.' || host (tag 1: one mirror site per origin — J ~ 1/7,
# flagged); docs with id % 11 == 0 gain a syndicated edition on the
# single aggregator host 'digest.example' (tag 2: pulls a slice of
# EVERY host — J ~ 0.02 vs any origin, a candidate pair that must
# NOT be flagged, so the Jaccard computation decides, not candidacy).
# The moduli are deliberately COPRIME to the host template's own id
# dependence (host identity is a function of id mod 60 + source: the
# (id+1)%6 / id%3 / id%4 fields): a modulus sharing a factor with 60
# makes mirror membership correlate with host identity — measured
# with mod 3, every '-news' host mirrored ALL its docs (J = 1.0) and
# every other host none, a degenerate gate. Coprime moduli make the
# mirrored slice independent of which host a doc lands on.
# The content fingerprint is doc_id — an exact stand-in (testdata docs
# are unique); a real pipeline feeds the dedup family's MinHash/
# SimHash fingerprints into the same pair plan.
MIRROR_MOD, DIGEST_MOD = 7, 11
MIRROR_TAU, MIRROR_MIN_SHARED = 0.08, 2


def q_host_mirror_detect(spark, sf_dir):
    """HOST MIRROR DETECTION — flag host pairs serving near-identical
    content sets (full mirrors, resellers, scraper sites), THE
    host-level dedup signal crawl curation applies before per-page
    passes: pairwise Jaccard over per-host content-fingerprint sets,
    candidates generated by a fingerprint-blocked self-join.

    Plan: the editions relation (tagged union of original + mirror +
    digest rows) self-joins on the FINGERPRINT with a tag inequality
    — one shuffle equi-join whose per-key fan-out is bounded by the
    edition count (<= 3 editions/fp, <= 3 pairs), never a cartesian.
    The tag (a per-branch literal) carries the inequality instead of
    the computed host strings, so no synthesis expression is
    substituted into a pushed-down filter (the r11 janino lesson);
    pair order is normalized AFTER the join via least/greatest.
    Host-pair counts and per-host sizes are map-side-combinable
    groupBys; the sizes join back is host-keyed — host cardinality is
    corpus-scaled at crawl scale, so shuffle joins, never broadcast.
    Jaccard is exact small-integer double division (< 2^53)."""
    hosts = _doc_hosts(spark, sf_dir)
    editions = (
        hosts.select("doc_id", "host", F.lit(0).alias("tag"))
        .unionByName(
            hosts.filter(F.col("doc_id") % MIRROR_MOD == 0).select(
                "doc_id",
                F.concat(F.lit("mirror."), F.col("host")).alias("host"),
                F.lit(1).alias("tag"),
            )
        )
        .unionByName(
            hosts.filter(F.col("doc_id") % DIGEST_MOD == 0).select(
                "doc_id",
                F.lit("digest.example").alias("host"),
                F.lit(2).alias("tag"),
            )
        )
    )
    e1 = editions.select(
        F.col("doc_id").alias("fp"),
        F.col("host").alias("__h1"),
        F.col("tag").alias("__t1"),
    )
    e2 = editions.select(
        F.col("doc_id").alias("fp"),
        F.col("host").alias("__h2"),
        F.col("tag").alias("__t2"),
    )
    pairs = (
        e1.join(e2, "fp")
        .filter(F.col("__t1") < F.col("__t2"))
        .select(
            F.least("__h1", "__h2").alias("host_a"),
            F.greatest("__h1", "__h2").alias("host_b"),
        )
    )
    inter = pairs.groupBy("host_a", "host_b").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    sizes = editions.groupBy("host").agg(F.count(F.lit(1)).alias("n_docs"))
    sa = sizes.select(
        F.col("host").alias("host_a"), F.col("n_docs").alias("__na")
    )
    sb = sizes.select(
        F.col("host").alias("host_b"), F.col("n_docs").alias("__nb")
    )
    return (
        inter.join(sa, "host_a")
        .join(sb, "host_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("__na") + F.col("__nb") - F.col("n_shared")).cast(
                    "double"
                ),
                6,
            ),
        )
        .withColumn(
            "is_mirror",
            (F.col("jaccard") >= MIRROR_TAU)
            & (F.col("n_shared") >= MIRROR_MIN_SHARED),
        )
        .select("host_a", "host_b", "n_shared", "jaccard", "is_mirror")
    )


ORACLE_HOST_MIRROR = (
    _canon_cte_duck(
        "SELECT doc_id, " + messy_url_duck(0) + " AS url FROM documents"
    )
    + f"""
, editions AS (
  SELECT doc_id, host, 0 AS tag FROM canon
  UNION ALL
  SELECT doc_id, 'mirror.' || host, 1 FROM canon WHERE doc_id % {MIRROR_MOD} = 0
  UNION ALL
  SELECT doc_id, 'digest.example', 2 FROM canon WHERE doc_id % {DIGEST_MOD} = 0
),
pairs AS (
  SELECT least(e1.host, e2.host) AS host_a,
         greatest(e1.host, e2.host) AS host_b
  FROM editions e1 JOIN editions e2
    ON e1.doc_id = e2.doc_id AND e1.tag < e2.tag
),
inter AS (SELECT host_a, host_b, count(*) AS n_shared
          FROM pairs GROUP BY host_a, host_b),
sizes AS (SELECT host, count(*) AS n_docs FROM editions GROUP BY host)
SELECT i.host_a, i.host_b, i.n_shared,
       round(CAST(i.n_shared AS DOUBLE)
             / CAST(sa.n_docs + sb.n_docs - i.n_shared AS DOUBLE), 6)
         AS jaccard,
       round(CAST(i.n_shared AS DOUBLE)
             / CAST(sa.n_docs + sb.n_docs - i.n_shared AS DOUBLE), 6)
         >= {MIRROR_TAU}
       AND i.n_shared >= {MIRROR_MIN_SHARED} AS is_mirror
FROM inter i
JOIN sizes sa ON sa.host = i.host_a
JOIN sizes sb ON sb.host = i.host_b
"""
)

WEBOPS_QUERIES["host_mirror_detect"] = q_host_mirror_detect
WEBOPS_ORACLES["host_mirror_detect"] = ORACLE_HOST_MIRROR


# ---------------------------------------------------------------------------
# host HITS hubs/authorities (r12)
# ---------------------------------------------------------------------------

HOST_HITS_ITERS = 5


def q_host_hits(spark, sf_dir):
    """HOST HITS (hubs & authorities, 5 fixed iterations) over the
    DIRECTED distinct host link graph — the complement of
    host_pagerank a crawl ranker actually wants both halves of: an
    AUTHORITY is a host good hubs point AT (fetch its pages first), a
    HUB is a host that points at good authorities (harvest its
    outlinks first). PageRank conflates the two; HITS separates them.

    Exactness: the classical per-iteration normalization exists only
    to stop float growth — with a FIXED iteration count the unnormal-
    ized recurrence (hub/auth init 1; a_t = Σ_in h_{t-1};
    h_t = Σ_out a_t) is pure INTEGER arithmetic, so scores stay in
    decimal(38,0) and the 5 unrolled oracle iterations are exact, no
    rounding discipline needed (bounded: scores ≤ (d_in·d_out)^5·n ~
    10^17 on the corpus graph, far inside decimal(38,0); ranking is
    normalization-invariant). The final cast goes decimal → STRING →
    double so both engines round the same exact integer the same way.

    Plan: edges/nodes materialize once (eager localCheckpoint — the
    URL-synthesis plan must not replay per iteration); each
    half-iteration is one equi-join on a host key + one map-side-
    combinable keyed aggregate + one left join against the node set
    (hosts with no in-links keep score 0 — the relation stays
    complete). Node cardinality is the host domain: corpus-scaled at
    crawl scale, never broadcast."""
    e = (
        _host_edges(spark, sf_dir)
        .select("src_host", "dst_host")
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src_host").alias("node"))
        .union(e.select(F.col("dst_host").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    zero = F.lit(0).cast("decimal(38,0)")
    hub = nodes.select("node", F.lit(1).cast("decimal(38,0)").alias("hub"))
    auth = None
    for _ in range(HOST_HITS_ITERS):
        a_agg = (
            e.join(hub, e.src_host == hub.node)
            .groupBy(F.col("dst_host").alias("node"))
            .agg(F.sum("hub").alias("__s"))
        )
        auth = nodes.join(a_agg, "node", "left").select(
            "node", F.coalesce(F.col("__s"), zero).alias("auth")
        )
        h_agg = (
            e.join(auth, e.dst_host == auth.node)
            .groupBy(F.col("src_host").alias("node"))
            .agg(F.sum("auth").alias("__s"))
        )
        hub = nodes.join(h_agg, "node", "left").select(
            "node", F.coalesce(F.col("__s"), zero).alias("hub")
        )
    return (
        auth.join(hub, "node")
        .select(
            F.col("node").alias("host"),
            F.expr("CAST(CAST(auth AS STRING) AS DOUBLE)").alias(
                "auth_score"
            ),
            F.expr("CAST(CAST(hub AS STRING) AS DOUBLE)").alias("hub_score"),
        )
    )


def _host_hits_oracle() -> str:
    prev_h = "h0"
    iters = []
    for i in range(1, HOST_HITS_ITERS + 1):
        iters.append(
            f"""a{i} AS (
  SELECT nd.node,
         COALESCE(agg.s, CAST(0 AS DECIMAL(38,0))) AS auth
  FROM nodes nd LEFT JOIN (
    SELECT e.dst_host AS node, SUM({prev_h}.hub) AS s
    FROM edges e JOIN {prev_h} ON {prev_h}.node = e.src_host
    GROUP BY e.dst_host
  ) agg ON agg.node = nd.node
)"""
        )
        iters.append(
            f"""h{i} AS (
  SELECT nd.node,
         COALESCE(agg.s, CAST(0 AS DECIMAL(38,0))) AS hub
  FROM nodes nd LEFT JOIN (
    SELECT e.src_host AS node, SUM(a{i}.auth) AS s
    FROM edges e JOIN a{i} ON a{i}.node = e.dst_host
    GROUP BY e.src_host
  ) agg ON agg.node = nd.node
)"""
        )
        prev_h = f"h{i}"
    k = HOST_HITS_ITERS
    return (
        _canon_cte_duck(
            "SELECT doc_id, " + messy_url_duck(0) + " AS url FROM documents"
        )
        + _EDGES_DUCK_TAIL
        + f""",
edges AS (SELECT DISTINCT src_host, dst_host FROM edge_rows),
nodes AS (SELECT src_host AS node FROM edges
          UNION SELECT dst_host FROM edges),
h0 AS (SELECT node, CAST(1 AS DECIMAL(38,0)) AS hub FROM nodes),
{','.join(iters)}
SELECT a{k}.node AS host,
       CAST(CAST(a{k}.auth AS VARCHAR) AS DOUBLE) AS auth_score,
       CAST(CAST(h{k}.hub AS VARCHAR) AS DOUBLE) AS hub_score
FROM a{k} JOIN h{k} ON h{k}.node = a{k}.node
"""
    )


WEBOPS_QUERIES["host_hits"] = q_host_hits
WEBOPS_ORACLES["host_hits"] = _host_hits_oracle()
