"""Catalog entries: scalar function surface (dates, strings, higher-order collection functions, safe casts).

Split from the former single-file registry_ext.py (round 5); entries
register into dataframe_sql_spark.registry.CATALOG on import via the
aggregator dataframe_sql_spark/registry_ext.py. Scale/design notes live
in the operator modules' docstrings.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry_common import (  # noqa: F401
    _events,
    _reg,
    _sql,
)


# --------------------------------------------------------------------------
# scalar function surface (extension; reference has none, SURVEY §2.3)
# --------------------------------------------------------------------------

_sql(
    "f_string_funcs",
    "select o_orderkey, upper(o_orderpriority) as up, lower(o_orderstatus) as lo, "
    "substr(o_orderpriority, 1, 3) as sub, length(o_orderpriority) as len, "
    "concat(o_orderstatus, '-', o_orderpriority) as cat, "
    "trim(o_orderpriority) as tr, replace(o_orderpriority, '-', '_') as rep "
    "from orders",
    None,
    "string scalar functions (identical semantics in DuckDB)",
)

_sql(
    "f_math_funcs",
    # floor/ceil: BIGINT in Spark but DOUBLE in DuckDB — explicit cast
    # makes the value bits identical under the driver's exact hash.
    "select l_orderkey, l_linenumber, abs(l_quantity - 25) as ab, "
    "cast(floor(l_extendedprice / 1000) as bigint) as fl, "
    "cast(ceil(l_extendedprice / 1000) as bigint) as ce, "
    "l_orderkey % 7 as md, sqrt(l_quantity) as sq, "
    "greatest(l_quantity, l_linenumber) as gr, least(l_tax, l_discount) as le, "
    "coalesce(nullif(l_tax, 0.0), -1.0) as co "
    "from lineitem",
    None,
    "math/conditional scalar functions",
)

_sql(
    "f_date_funcs",
    "select o_orderkey, year(o_orderdate) as y, month(o_orderdate) as m, "
    "day(o_orderdate) as d, hour(o_orderdate) as h, "
    "date_trunc('month', o_orderdate) as mon, "
    "o_orderdate + interval 1 day as next_day "
    "from orders",
    "SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m, "
    "day(o_orderdate) AS d, hour(o_orderdate) AS h, "
    "date_trunc('month', o_orderdate)::TIMESTAMP AS mon, "  # DuckDB month-trunc yields DATE
    "o_orderdate + INTERVAL 1 DAY AS next_day FROM orders",
    "date/time scalar functions",
)

_reg(
    "f_json_funcs",
    lambda spark, sf_dir: _events(spark, sf_dir).select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        F.from_json("props", "k bigint")["k"].alias("k_struct"),
    ),
    "SELECT event_id, json_extract_string(props, '$.k') AS k_str, "
    "json_extract(props, '$.k')::BIGINT AS k, "
    "json_extract(props, '$.k')::BIGINT AS k_struct FROM events",
    "JSON extraction: get_json_object path access + from_json struct parse "
    "(semi-structured props column)",
)


_sql(
    "f_regex_funcs",
    r"select doc_id, regexp_extract(text, '([a-z]+)', 1) as first_word, "
    r"regexp_replace(text, 'data', 'DATA') as rep from documents",
    r"SELECT doc_id, regexp_extract(text, '([a-z]+)', 1) AS first_word, "
    r"regexp_replace(text, 'data', 'DATA', 'g') AS rep FROM documents",
    "regex scalar functions (Spark replaces all by default; DuckDB needs 'g')",
)


_sql(
    "f_bitwise",
    "select l_orderkey, l_orderkey & 255 as lo, l_orderkey | 15 as orr, "
    "l_orderkey ^ l_linenumber as xr, shiftleft(l_linenumber, 3) as shl, "
    "shiftright(l_orderkey, 2) as shr from lineitem",
    "SELECT l_orderkey, l_orderkey & 255 AS lo, l_orderkey | 15 AS orr, "
    "xor(l_orderkey, l_linenumber) AS xr, l_linenumber << 3 AS shl, "
    "l_orderkey >> 2 AS shr FROM lineitem",
    "bitwise operators (the primitives under simhash/zorder, exposed in SQL)",
)


_sql(
    "f_explode",
    r"select doc_id, word from documents "
    r"lateral view explode(split(trim(lower(text)), '\\s+')) t as word "
    r"where length(word) > 0",
    r"WITH u AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+'))"
    r" AS word FROM documents) SELECT doc_id, word FROM u WHERE length(word) > 0",
    "explode/lateral view: one row per token (the tokenize-then-aggregate "
    "fan-out; generator runs inside codegen, no Python)",
)


_sql(
    "f_array_agg",
    "select l_orderkey, array_join(sort_array(collect_list(l_linenumber)), ',') "
    "as lines from lineitem group by l_orderkey",
    "SELECT l_orderkey, array_to_string(list_sort(list(l_linenumber)), ',') "
    "AS lines FROM lineitem GROUP BY l_orderkey",
    "array aggregation (collect_list + sort for deterministic cross-engine "
    "comparison; ArrayType is free headroom over the reference, SURVEY §1)",
)



# --------------------------------------------------------------------------
# higher-order / collection / safe-cast scalar surface (extension —
# reference has no scalar functions beyond dates, SURVEY.md §2.3)
# --------------------------------------------------------------------------

_sql(
    "f_higher_order",
    "select vec_id, "
    "size(filter(embedding, x -> x > 0)) as n_pos, "
    "round(aggregate(embedding, cast(0.0 as double), "
    "(acc, x) -> acc + cast(x as double) * cast(x as double)), 3) as norm2, "
    "round(aggregate(embedding, cast(0.0 as double), "
    "(acc, x) -> acc + greatest(cast(x as double), 0.0)), 3) as pos_mass, "
    "round(cast(array_max(embedding) as double), 3) as max_c "
    "from embeddings",
    "SELECT vec_id, "
    "len(list_filter(embedding, x -> x > 0)) AS n_pos, "
    "round(list_aggregate(list_transform(embedding, "
    "x -> cast(x as double) * cast(x as double)), 'sum'), 3) AS norm2, "
    "round(list_aggregate(list_transform(embedding, "
    "x -> greatest(cast(x as double), 0.0)), 'sum'), 3) AS pos_mass, "
    "round(cast(list_max(embedding) as double), 3) AS max_c "
    "FROM embeddings",
    "higher-order array functions (filter/aggregate-fold/array_max) over "
    "array<float> — JVM-side lambdas, no Python; the fold runs in list "
    "order so both engines produce identical bits (rounded to absorb "
    "last-ulp formatting)",
)

_sql(
    "f_map_funcs",
    "select event_id, event_type, "
    "element_at(map('click', 1, 'view', 2, 'purchase', 3, "
    "'signup', 4, 'error', 5), event_type) as type_code, "
    "size(map_concat(map('a', 1), map('b', 2))) as m_size, "
    "array_join(map_keys(map('a', 1, 'b', 2)), ',') as keys_csv "
    "from events where event_id < 100",
    "SELECT event_id, event_type, "
    "CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2 "
    "WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4 WHEN 'error' THEN 5 END "
    "AS type_code, 2 AS m_size, 'a,b' AS keys_csv "
    "FROM events WHERE event_id < 100",
    "map construction / lookup / concat / keys (MapType is extension "
    "surface — reference has no nested types, SURVEY.md §1)",
)

_sql(
    "f_try_cast",
    "select doc_id, "
    "try_cast(lang as int) as bad_int, "
    "try_cast(cast(n_chars as string) as int) as roundtrip_int, "
    "try_cast('not a date' as timestamp) as bad_ts "
    "from documents",
    "SELECT doc_id, "
    "TRY_CAST(lang AS INT) AS bad_int, "
    "TRY_CAST(CAST(n_chars AS VARCHAR) AS INT) AS roundtrip_int, "
    "TRY_CAST('not a date' AS TIMESTAMP) AS bad_ts "
    "FROM documents",
    "TRY_CAST: malformed input yields NULL instead of failing the job — "
    "at 100 TB one bad row must not kill a 1000-executor stage",
)



_sql(
    "f_array_setops",
    # The set-algebra results are serialized to sorted CSV strings
    # rather than returned as raw array columns: the driver's
    # canonicalizer sorts raw pandas columns and numpy.ndarray cells
    # are unhashable (CORRECTNESS_r08 `err` on this entry — the values
    # were hash-green when arrays were tuple-normalized). Identical
    # set algebra is exercised; only the output encoding is scalar.
    # DuckDB's array_to_string returns NULL for an EMPTY list while
    # Spark's array_join returns '' — coalesce on the oracle side
    # (inputs are never NULL here, so ''-vs-NULL can only mean empty).
    "select l_orderkey, l_linenumber, "
    "array_join(sort_array(array_intersect(array(l_partkey % 7, l_suppkey % 7, 3), "
    "array(l_suppkey % 7, 5))), ',') as inter, "
    "array_join(sort_array(array_union(array(l_partkey % 7), "
    "array(l_suppkey % 7, 5))), ',') as uni, "
    "array_join(sort_array(array_except(array(l_partkey % 7, l_suppkey % 7), "
    "array(3, 5))), ',') as exc, "
    "array_contains(array(l_partkey % 7), 3) as has3 "
    "from lineitem",
    "SELECT l_orderkey, l_linenumber, "
    "coalesce(array_to_string(list_sort(list_intersect([l_partkey % 7, l_suppkey % 7, 3], "
    "[l_suppkey % 7, 5])), ','), '') AS inter, "
    "coalesce(array_to_string(list_sort(list_distinct(list_concat([l_partkey % 7], "
    "[l_suppkey % 7, 5]))), ','), '') AS uni, "
    "coalesce(array_to_string(list_sort(list_distinct(list_filter([l_partkey % 7, l_suppkey % 7], "
    "x -> NOT list_contains([3, 5], x)))), ','), '') AS exc, "
    "list_contains([l_partkey % 7], 3) AS has3 "
    "FROM lineitem",
    "array set algebra (intersect/union/except/contains) — JVM-side, "
    "sorted to a canonical order because the engines differ on "
    "first-occurrence order (DuckDB 1.0 lacks list_union; emulated "
    "with distinct+concat); serialized to CSV for driver hashability",
)

_sql(
    "f_url_funcs",
    "select doc_id, "
    "parse_url(concat('https://', source, '.example.com/docs/', "
    "cast(doc_id as string), '?lang=', lang), 'HOST') as host, "
    "parse_url(concat('https://', source, '.example.com/docs/', "
    "cast(doc_id as string), '?lang=', lang), 'PATH') as path, "
    "parse_url(concat('https://', source, '.example.com/docs/', "
    "cast(doc_id as string), '?lang=', lang), 'QUERY', 'lang') as qlang "
    "from documents",
    "SELECT doc_id, "
    "source || '.example.com' AS host, "
    "'/docs/' || CAST(doc_id AS VARCHAR) AS path, "
    "lang AS qlang "
    "FROM documents",
    "URL parsing (host/path/query-param) — crawl-data normalization for "
    "dedup-by-URL; JVM-side parse_url, oracle reconstructs "
    "componentwise from the synthesized URL",
)

_sql(
    "f_url_canonicalize",
    # Crawl-URL canonicalization — the normalization pass before
    # dedup-by-URL: drop the fragment, strip utm_* tracking params
    # (repairing the FIRST surviving separator if '?utm_' led the
    # query string — the repair prefix is [^?&]+ because the base URL
    # contains neither '?' nor '&', so the first remaining '&' is the
    # one to turn into '?'; a bare [^?]+ prefix would greedily match
    # through earlier '&'s and rewrite the last one),
    # lowercase the host but NOT the path (paths are case-significant).
    # The messy URL is synthesized from columns so both engines see
    # identical input. Spark regexp_replace is global by default;
    # DuckDB needs the 'g' flag and \1 backreferences — hence two
    # dialect texts for the same recipe.
    "with u as (select doc_id, concat('https://', upper(source), "
    "'.Example.COM/Docs/', cast(doc_id as string), "
    "'?utm_source=x&lang=', lang, '&utm_campaign=y#frag') as url "
    "from documents), "
    "s as (select doc_id, url, regexp_replace(regexp_replace("
    "regexp_replace(url, '#.*$', ''), '[?&]utm_[^&]*', ''), "
    r"'^([^?&]+)&', '$1?') as noq from u) "
    "select doc_id, url, concat('https://', "
    "lower(regexp_extract(noq, 'https://([^/]+)', 1)), "
    "regexp_replace(noq, '^https://[^/]+', '')) as canonical_url "
    "from s order by doc_id",
    "WITH u AS (SELECT doc_id, 'https://' || upper(source) || "
    "'.Example.COM/Docs/' || CAST(doc_id AS VARCHAR) || "
    "'?utm_source=x&lang=' || lang || '&utm_campaign=y#frag' AS url "
    "FROM documents), "
    "s AS (SELECT doc_id, url, regexp_replace(regexp_replace("
    "regexp_replace(url, '#.*$', ''), '[?&]utm_[^&]*', '', 'g'), "
    r"'^([^?&]+)&', '\1?') AS noq FROM u) "
    "SELECT doc_id, url, 'https://' || "
    "lower(regexp_extract(noq, 'https://([^/]+)', 1)) || "
    "regexp_replace(noq, '^https://[^/]+', '') AS canonical_url "
    "FROM s ORDER BY doc_id",
    "URL canonicalization (fragment strip, utm param removal with "
    "separator repair, host lowercased, path case preserved) — the "
    "normalization before dedup-by-URL",
)


_sql(
    "f_variant_json",
    "select event_id, "
    "variant_get(parse_json(props), '$.k', 'int') as k_val, "
    "is_variant_null(try_parse_json(props)) as bad_json "
    "from events where event_id < 200",
    "SELECT event_id, "
    "json_extract(props, '$.k')::INT AS k_val, "
    "FALSE AS bad_json "
    "FROM events WHERE event_id < 200",
    "semi-structured VARIANT path (Spark 4): parse once into the binary "
    "variant encoding, then typed path extraction — at scale this beats "
    "per-access JSON string re-parsing (f_json_funcs is the string path)",
)



_sql(
    "f_timezone",
    "select event_id, "
    "from_utc_timestamp(ts, 'America/New_York') as ny, "
    "from_utc_timestamp(ts, 'Asia/Tokyo') as tokyo, "
    "hour(from_utc_timestamp(ts, 'America/New_York')) as ny_hour "
    "from events where event_id < 300",
    "SELECT event_id, "
    "timezone('America/New_York', timezone('UTC', ts)) AS ny, "
    "timezone('Asia/Tokyo', timezone('UTC', ts)) AS tokyo, "
    "hour(timezone('America/New_York', timezone('UTC', ts))) AS ny_hour "
    "FROM events WHERE event_id < 300",
    "timezone conversion (DST-aware, via the tz database) — the DuckDB "
    "side pins the instant with an inner timezone('UTC', ...) so the "
    "oracle is independent of the session timezone",
)


_sql(
    "f_edit_distance",
    # Edit-distance function surface over adjacent-id doc pairs (the
    # fuzzy-matching primitive for record linkage); truncated to 25
    # chars because Levenshtein is O(len^2) per pair — at scale this
    # runs AFTER a candidate generator (LSH/prefix-filter), never as
    # a raw cross product.
    "select a.doc_id as id_a, b.doc_id as id_b, "
    "cast(levenshtein(substring(a.text, 1, 25), substring(b.text, 1, 25)) "
    "as bigint) as dist "
    "from documents a join documents b on b.doc_id = a.doc_id + 1",
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "cast(levenshtein(substr(a.text, 1, 25), substr(b.text, 1, 25)) "
    "AS BIGINT) AS dist "
    "FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1",
    "Levenshtein edit distance over candidate pairs — integer output, "
    "bit-exact differential",
)
