"""ClickHouse dialect vocabulary gates (SURVEY.md §2.9).

Ten gates exercising the ``translate_ch_sql`` vocabulary end-to-end on
generated-from-orderkey fixtures, each with a closed-form DuckDB replay (the
generative integers make every expected value a modular arithmetic
expression — no DuckDB map/URL machinery needed):

- ``sql_ch_dialect_vocab_r7``: arrayFold, arrayShiftLeft/Right, mapUpdate,
  mapContainsKeyLike, mapExtractKeyLike, max2/min2, negate, sqrtOrNull,
  innerProduct, LpNorm, leftUTF8/rightUTF8/startsWithUTF8/endsWithUTF8,
  multiSearchFirstPosition, multiSearchAnyCaseInsensitive;
- ``sql_ch_dialect_vocab_r7b``: queryStringAndFragment,
  cutQueryStringAndFragment, cutWWW, URLHierarchy, URLPathHierarchy,
  extractURLParameters(+Names), isIPv6String, isIPAddressInRange,
  IPv4CIDRToRange, addQuarters/subtractQuarters, toRelativeQuarterNum,
  toRelativeWeekNum, snowflakeToDateTime/dateTimeToSnowflake, timeSlots;
- ``sql_ch_dialect_vocab_r7c``: formatReadableTimeDelta, bin/unbin,
  mapSort, the Modified-Julian-day pair, addDate/subDate, soundex,
  repeat/space, set-based ngramDistance, 2D morton encode/decode;
- ``sql_ch_dialect_vocab_r7d``: arrayCumSumNonNegative, lambda-first
  arrayLast/arrayLastIndex, byteHammingDistance, tie-free arrayAUC;
- ``sql_ch_dialect_vocab_r8`` / ``_r8b`` / ``_r8c``: the vector family
  (L2SquaredDistance, LinfDistance, L2Normalize); the string family
  (splitByNonAlpha, hasSubsequence (matched-prefix fold), translateUTF8,
  ascii, rightPadUTF8, regexpQuoteMeta, toDecimalString); the datetime
  family (addMilliseconds, subtractMilliseconds, toUnixTimestamp64Nano,
  toYYYYMMDDhhmmss); the URL family (firstSignificantSubdomain, same
  documented public-suffix shortlist as cutToFirstSignificantSubdomain);
- ``sql_ch_dialect_vocab_r9`` / ``_r9c`` (scalar half):
  toRelativeMinuteNum/HourNum/DayNum (epoch bucket numbers), isValidJSON
  (variant try-parse; valid and broken payloads both asserted),
  normalizeQuery (literal masking with identifier preservation — the regex
  is lookbehind-free so the SAME pattern runs under RE2 in the oracle) and
  extractAllGroupsVertical (translate-time capture arity over literal
  patterns);
- ``sql_ch_dialect_vocab_r9b`` (aggregate half): skewSamp/kurtSamp
  (unbiased sample moments over exact integer power sums — the Spark
  template and the oracle share ONE expression builder,
  sql/stats_moments.py, so the double chains are textually identical),
  deltaSumTimestamp (timestamp-ordered positive-delta sum; the
  insertion-order-dependent deltaSum is a loud REFUSAL pointing here,
  pinned in tests/test_ch_parity_sweep.py) and quantileExactWeighted
  (exact integer-weighted quantile via a bound-struct fold — aggregates
  stay outside the lambda).  boundingRatio/sumKahan keep their
  definitions in the r6c_agg template set.

All expressions stay JVM-side (templates compile to built-in Spark SQL);
every gate prunes to a sparse orderkey sample so the dialect surface stays
a cheap smoke at any SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moosestack_spark.registry import canon_arrays, query
from moosestack_spark.sql import stats_moments as _sm


@query(
    "sql_ch_dialect_vocab_r7",
    oracle=r"""
SELECT o_orderkey,
       8 * a1 + 4 * a2 + 2 * a3 + a4 AS fold_sum,
       '[' || a2 || ',' || a3 || ',' || a4 || ',-1]' AS asl,
       '[-1,' || a1 || ',' || a2 || ',' || a3 || ']' AS asr,
       a3 AS mu_b,
       'a,b,c' AS mu_keys,
       TRUE AS mckl,
       'b' AS mekl,
       GREATEST(a1, a2) AS mx, LEAST(a1, a2) AS mn,
       -a1 AS ng,
       CASE WHEN a1 - 2 < 0 THEN NULL ELSE sqrt(a1 - 2) END AS sq,
       CAST(a1 * a2 + a2 * a4 AS DOUBLE) AS ip,
       CAST(pow(CAST(a1 * a1 * a1 + a2 * a2 * a2 AS DOUBLE),
                CAST(1.0 AS DOUBLE) / 3) AS FLOAT) AS lp3,
       substring(txt, 1, 3) AS lu,
       substring(txt, length(txt) - 1, 2) AS ru,
       txt LIKE 'a%' AS sw,
       CAST(a4 AS VARCHAR) = substring(txt, length(txt), 1) AS ew,
       CASE WHEN position('b' IN txt) > 0 AND position('9' IN txt) > 0
              THEN LEAST(position('b' IN txt), position('9' IN txt))
            WHEN position('b' IN txt) > 0 THEN position('b' IN txt)
            WHEN position('9' IN txt) > 0 THEN position('9' IN txt)
            ELSE 0 END AS msfp,
       position('b' IN txt) > 0 OR position('q' IN txt) > 0 AS msany
FROM (
  SELECT o_orderkey,
         CAST(o_orderkey % 5 AS BIGINT) AS a1,
         CAST(o_orderkey % 3 AS BIGINT) AS a2,
         CAST(o_orderkey % 5 AS BIGINT) AS a3,
         CAST(o_orderkey % 7 AS BIGINT) AS a4,
         'a' || CAST(o_orderkey % 10 AS VARCHAR) || ' b'
           || CAST(o_orderkey % 7 AS VARCHAR) AS txt
  FROM orders WHERE o_orderkey % 29 = 0
)
""",
)
def sql_ch_dialect_vocab_r7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-7 vocabulary batch A: array folds/shifts, map update/filter
    helpers, two-arg max/min, guarded sqrt, vector norms, UTF8 aliases,
    multiSearch variants."""
    from moosestack_spark.sql.ch_functions import translate_ch_sql
    from moosestack_spark.tables import register_views

    register_views(spark, sf_dir, only=["orders"])
    ch_sql = """
SELECT o_orderkey,
       arrayFold((acc, x) -> acc * 2 + x, arr, 0L) AS fold_sum,
       arrayShiftLeft(arr, 1, -1L) AS asl,
       arrayShiftRight(arr, 1, -1L) AS asr,
       arrayElement(mapUpdate(m1, m2), 'b') AS mu_b,
       arrayStringConcat(arraySort(mapKeys(mapUpdate(m1, m2))), ',')
         AS mu_keys,
       mapContainsKeyLike(m1, 'a%') AS mckl,
       arrayStringConcat(arraySort(mapKeys(
         mapExtractKeyLike(m1, '%b%'))), ',') AS mekl,
       max2(a1, a2) AS mx, min2(a1, a2) AS mn,
       negate(a1) AS ng,
       sqrtOrNull(a1 - 2) AS sq,
       innerProduct(va, vb) AS ip,
       toFloat32(LpNorm(va, 3)) AS lp3,
       leftUTF8(txt, 3) AS lu,
       rightUTF8(txt, 2) AS ru,
       startsWithUTF8(txt, 'a') AS sw,
       endsWithUTF8(txt, toString(a4)) AS ew,
       multiSearchFirstPosition(txt, array('b', '9')) AS msfp,
       multiSearchAnyCaseInsensitive(txt, array('B', 'q')) AS msany
FROM (
  SELECT o_orderkey,
         array(toInt64(o_orderkey % 5), toInt64(o_orderkey % 3),
               toInt64(o_orderkey % 5), toInt64(o_orderkey % 7)) AS arr,
         toInt64(o_orderkey % 5) AS a1,
         toInt64(o_orderkey % 3) AS a2,
         toInt64(o_orderkey % 7) AS a4,
         array(toFloat64(o_orderkey % 5), toFloat64(o_orderkey % 3)) AS va,
         array(toFloat64(o_orderkey % 3), toFloat64(o_orderkey % 7)) AS vb,
         map('a', toInt64(o_orderkey % 10), 'b', toInt64(o_orderkey % 7))
           AS m1,
         map('b', toInt64(o_orderkey % 5), 'c', 1L) AS m2,
         concat('a', toString(o_orderkey % 10), ' b',
                toString(o_orderkey % 7)) AS txt
  FROM orders WHERE o_orderkey % 29 = 0
)
"""
    out = spark.sql(translate_ch_sql(ch_sql))
    return canon_arrays(out, "asl", "asr")


@query(
    "sql_ch_dialect_vocab_r7b",
    oracle=r"""
SELECT o_orderkey,
       'x=1&y=' || k3 || '#f' || k2 AS qsf,
       'https://www.shop' || k9 || '.example.com/p' AS cqs,
       'https://shop' || k9 || '.example.com/cat' || k5 || '/item' || k7
         AS cw,
       '[https://www.shop' || k9 || '.example.com/,'
         || 'https://www.shop' || k9 || '.example.com/cat' || k5 || '/,'
         || 'https://www.shop' || k9 || '.example.com/cat' || k5
         || '/item' || k7 || ']' AS uh,
       '[/cat' || k5 || '/,/cat' || k5 || '/item' || k7 || ']' AS uph,
       '[x=1,y=' || k3 || ']' AS eup,
       '[x,y]' AS eupn,
       (k4 < 2) AS ip6,
       (k4 < 2) AS inr,
       '10.' || (k4 * 16) || '.4.0' AS cidr_lo,
       '10.' || (k4 * 16) || '.4.255' AS cidr_hi,
       strftime(CAST(d AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS aq,
       strftime(CAST(d AS DATE) - INTERVAL 6 MONTH, '%Y-%m-%d') AS sq2,
       CAST(year(d) * 4 + quarter(d) - 1 AS BIGINT) AS rqn,
       CAST(floor((date_diff('day', DATE '1970-01-01', CAST(d AS DATE)) + 4)
                  / 7) AS BIGINT) AS rwn,
       1288834974657 + o_orderkey AS sf_ms,
       (1640995200000 + o_orderkey * 1000 - 1288834974657) * 4194304
         AS dts,
       '[' || CAST(1640995200 + (o_orderkey % 2) * 1800 AS VARCHAR) || ','
           || CAST(1640997000 + (o_orderkey % 2) * 1800 AS VARCHAR) || ','
           || CAST(1640998800 + (o_orderkey % 2) * 1800 AS VARCHAR) || ']'
         AS tsl
FROM (
  SELECT o_orderkey, o_orderdate AS d,
         CAST(o_orderkey % 2 AS VARCHAR) AS k2,
         CAST(o_orderkey % 3 AS VARCHAR) AS k3,
         CAST(o_orderkey % 4 AS BIGINT) AS k4,
         CAST(o_orderkey % 5 AS VARCHAR) AS k5,
         CAST(o_orderkey % 7 AS VARCHAR) AS k7,
         CAST(o_orderkey % 9 AS VARCHAR) AS k9
  FROM orders WHERE o_orderkey % 29 = 0
)
""",
)
def sql_ch_dialect_vocab_r7b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-7 vocabulary batch B: URL cut/hierarchy/parameter family,
    IPv6/CIDR predicates, quarter/week arithmetic, snowflake ids,
    timeSlots."""
    from moosestack_spark.sql.ch_functions import translate_ch_sql
    from moosestack_spark.tables import register_views

    register_views(spark, sf_dir, only=["orders"])
    ch_sql = """
SELECT o_orderkey,
       queryStringAndFragment(url2) AS qsf,
       cutQueryStringAndFragment(url2) AS cqs,
       cutWWW(url) AS cw,
       URLHierarchy(url) AS uh,
       URLPathHierarchy(url) AS uph,
       extractURLParameters(url2) AS eup,
       extractURLParameterNames(url2) AS eupn,
       isIPv6String(CASE WHEN k4 = 0 THEN '::1'
                         WHEN k4 = 1 THEN '2001:db8::1'
                         WHEN k4 = 2 THEN '1:2:3:4:5:6:7:8:9::'
                         ELSE '10.0.0.1' END) AS ip6,
       isIPAddressInRange(ip, '10.0.0.0/11') AS inr,
       IPv4CIDRToRange(ip, 24) AS cidr,
       toString(addQuarters(toDate(d), 1)) AS aq,
       toString(subtractQuarters(toDate(d), 2)) AS sq2,
       toInt64(toRelativeQuarterNum(d)) AS rqn,
       toRelativeWeekNum(toDate(d)) AS rwn,
       toUnixTimestamp64Milli(snowflakeToDateTime(
         o_orderkey * 4194304 + 123456)) AS sf_ms,
       dateTimeToSnowflake(ts) AS dts,
       arrayMap(t -> toUnixTimestamp(t), timeSlots(ts0, 3600, 1800)) AS tsl
FROM (
  SELECT o_orderkey, o_orderdate AS d,
         o_orderkey % 2 AS k2,
         o_orderkey % 4 AS k4,
         concat('https://www.shop', toString(o_orderkey % 9),
                '.example.com/cat', toString(o_orderkey % 5),
                '/item', toString(o_orderkey % 7)) AS url,
         concat('https://www.shop', toString(o_orderkey % 9),
                '.example.com/p?x=1&y=', toString(o_orderkey % 3),
                '#f', toString(o_orderkey % 2)) AS url2,
         concat('10.', toString((o_orderkey % 4) * 16), '.4.25') AS ip,
         toDateTime(1640995200 + o_orderkey) AS ts,
         toDateTime(1640995200 + (o_orderkey % 2) * 1800) AS ts0
  FROM orders WHERE o_orderkey % 29 = 0
)
"""
    out = spark.sql(translate_ch_sql(ch_sql))
    out = out.withColumn("cidr_lo", F.col("cidr.col1")).withColumn(
        "cidr_hi", F.col("cidr.col2")
    ).drop("cidr")
    return canon_arrays(out, "uh", "uph", "eup", "eupn", "tsl")


def _duck_morton(x: str, y: str) -> str:
    """DuckDB bit-interleave replay of the translator's 2D x 16-bit
    mortonEncode (same disjoint-bit sum)."""
    terms = []
    for i in range(16):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def _duck_frtd(secs: str) -> str:
    """DuckDB replay of formatReadableTimeDelta's day/hour/minute/second
    subset (concat_ws skips NULL components in both engines)."""
    def part(cnt: str, cond: str, unit: str) -> str:
        return (
            f"CASE WHEN {cnt} {cond} THEN CAST({cnt} AS VARCHAR) || ' {unit}' || "
            f"(CASE WHEN {cnt} = 1 THEN '' ELSE 's' END) END"
        )

    return (
        "concat_ws(', ', "
        + part(f"(({secs}) // 86400)", "> 0", "day")
        + ", "
        + part(f"((({secs}) // 3600) % 24)", "> 0", "hour")
        + ", "
        + part(f"((({secs}) // 60) % 60)", "> 0", "minute")
        + ", "
        + part(f"(({secs}) % 60)", f"> 0 OR ({secs}) = 0", "second")
        + ")"
    )


_R7C_ORACLE = f"""
SELECT o_orderkey,
       {_duck_frtd("secs")} AS frtd,
       bin(a1 * 37 + 5) AS bn,
       a1 * 37 + 5 AS ub,
       'a,b,c' AS msk,
       CAST(a5 AS VARCHAR) || ',' || CAST(a3 AS VARCHAR) || ',9' AS msv,
       datediff('day', DATE '1858-11-17', CAST(d AS DATE)) AS mjd,
       strftime(CAST(d AS DATE), '%Y-%m-%d') AS fmjd,
       strftime(CAST(d AS DATE) + INTERVAL 5 DAY, '%Y-%m-%d') AS ad,
       strftime(CAST(d AS DATE) - INTERVAL 3 DAY, '%Y-%m-%d') AS sd,
       CASE idx4 WHEN 0 THEN 'R163' WHEN 1 THEN 'A261'
                 WHEN 2 THEN 'T522' ELSE 'P236' END AS sx,
       repeat('ab', a3 + 1) AS rp,
       CAST(a5 AS BIGINT) AS spl,
       CASE k2 WHEN 0 THEN 0.5555555555555556
               ELSE 0.4666666666666667 END AS nd,
       {_duck_morton("mx", "my")} AS me,
       mx AS mdx, my AS mdy
FROM (
  SELECT o_orderkey,
         (o_orderkey % 5) * 23456 + (o_orderkey % 7) * 61 AS secs,
         CAST(o_orderkey % 5 AS BIGINT) AS a1,
         CAST(o_orderkey % 3 AS BIGINT) AS a3,
         CAST(o_orderkey % 4 AS BIGINT) AS idx4,
         CAST(o_orderkey % 6 AS BIGINT) AS a5,
         CAST(o_orderkey % 2 AS BIGINT) AS k2,
         CAST(o_orderkey % 1000 AS BIGINT) AS mx,
         CAST((o_orderkey * 7) % 1000 AS BIGINT) AS my,
         o_orderdate AS d
  FROM orders WHERE o_orderkey % 29 = 0
)
"""


@query("sql_ch_dialect_vocab_r7c", oracle=_R7C_ORACLE)
def sql_ch_dialect_vocab_r7c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-7 vocabulary batch C: formatReadableTimeDelta (d/h/m/s
    subset), bin/unbin, mapSort, Modified-Julian-day pair, addDate/
    subDate, soundex, repeat/space, set-based ngramDistance, and the 2D
    morton encode/decode roundtrip."""
    from moosestack_spark.sql.ch_functions import translate_ch_sql
    from moosestack_spark.tables import register_views

    register_views(spark, sf_dir, only=["orders"])
    ch_sql = """
SELECT o_orderkey,
       formatReadableTimeDelta(secs) AS frtd,
       bin(a1 * 37 + 5) AS bn,
       unbin(bin(a1 * 37 + 5)) AS ub,
       arrayStringConcat(mapKeys(mapSort(m)), ',') AS msk,
       arrayStringConcat(arrayMap(v -> toString(v),
                                  mapValues(mapSort(m))), ',') AS msv,
       toModifiedJulianDay(toDate(d)) AS mjd,
       toString(fromModifiedJulianDay(toModifiedJulianDay(toDate(d))))
         AS fmjd,
       toString(addDate(toDate(d), toIntervalDay(5))) AS ad,
       toString(subDate(toDate(d), toIntervalDay(3))) AS sd,
       soundex(arrayElement(
         array('Robert', 'Ashcraft', 'Tymczak', 'Pfister'), idx4 + 1)) AS sx,
       repeat('ab', a3 + 1) AS rp,
       toInt64(length(space(a5))) AS spl,
       ngramDistance(arrayElement(array('clickhouse', 'spark analytics'),
                                  k2 + 1),
                     arrayElement(array('clickhome', 'spark analysis'),
                                  k2 + 1)) AS nd,
       mortonEncode(mx, my) AS me,
       mortonDecode(2, mortonEncode(mx, my)).col1 AS mdx,
       mortonDecode(2, mortonEncode(mx, my)).col2 AS mdy
FROM (
  SELECT o_orderkey,
         (o_orderkey % 5) * 23456 + (o_orderkey % 7) * 61 AS secs,
         toInt64(o_orderkey % 5) AS a1,
         toInt64(o_orderkey % 3) AS a3,
         toInt32(o_orderkey % 4) AS idx4,
         toInt64(o_orderkey % 6) AS a5,
         toInt32(o_orderkey % 2) AS k2,
         toInt64(o_orderkey % 1000) AS mx,
         toInt64((o_orderkey * 7) % 1000) AS my,
         map('b', toInt64(o_orderkey % 3), 'a', toInt64(o_orderkey % 6),
             'c', 9L) AS m,
         o_orderdate AS d
  FROM orders WHERE o_orderkey % 29 = 0
)
"""
    return spark.sql(translate_ch_sql(ch_sql))


@query(
    "sql_ch_dialect_vocab_r7d",
    oracle="""
WITH base AS (
  SELECT o_orderkey,
         CAST(o_orderkey % 5 AS BIGINT) AS a1,
         CAST(o_orderkey % 3 AS BIGINT) AS a2,
         CAST(o_orderkey % 7 AS BIGINT) AS a3,
         CAST(o_orderkey % 7 AS VARCHAR) AS k7,
         CAST(o_orderkey % 5 AS VARCHAR) AS k5
  FROM orders WHERE o_orderkey % 29 = 0
), auc_ex AS (
  SELECT o_orderkey,
         UNNEST([CAST(a1 * 4 AS DOUBLE), CAST(a2 * 4 + 1 AS DOUBLE),
                 CAST(a1 * 4 + 2 AS DOUBLE), CAST(a3 * 4 + 3 AS DOUBLE)]) AS s,
         UNNEST([1, 0, 1, 0]) AS l
  FROM base
), auc_r AS (
  SELECT o_orderkey, l,
         ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY s) AS rk
  FROM auc_ex
), auc AS (
  SELECT o_orderkey,
         CAST(SUM(CASE WHEN l = 1 THEN rk ELSE 0 END) - 3 AS DOUBLE) / 4
           AS auc
  FROM auc_r GROUP BY o_orderkey
)
SELECT b.o_orderkey,
       '[' || b.a1 || ',' || GREATEST(b.a1 - b.a2, 0) || ','
           || (GREATEST(b.a1 - b.a2, 0) + b.a3) || ']' AS csnn,
       CASE WHEN b.a3 > 1 THEN b.a3 WHEN b.a1 > 1 THEN b.a1 END AS al,
       CASE WHEN b.a3 > 1 THEN 3 WHEN b.a1 > 1 THEN 1 ELSE 0 END AS ali,
       CASE WHEN b.k7 = b.k5 THEN 0 ELSE 1 END AS bh,
       2 AS bh2,
       auc.auc AS auc
FROM base b JOIN auc USING (o_orderkey)
""",
)
def sql_ch_dialect_vocab_r7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-7 vocabulary batch D: arrayCumSumNonNegative (true running
    clamp via array-accumulator fold), lambda-first arrayLast/
    arrayLastIndex, byteHammingDistance (length-difference counting),
    tie-free arrayAUC.  The AUC oracle REPLAYS the rank arithmetic via
    unnest+window (scores use distinct mod-4 residues, so no ties at any
    SF); the rest are closed-form."""
    from moosestack_spark.sql.ch_functions import translate_ch_sql
    from moosestack_spark.tables import register_views

    register_views(spark, sf_dir, only=["orders"])
    ch_sql = """
SELECT o_orderkey,
       arrayCumSumNonNegative(array(a1, -a2, a3)) AS csnn,
       arrayLast(x -> x > 1, array(a1, -a2, a3)) AS al,
       arrayLastIndex(x -> x > 1, array(a1, -a2, a3)) AS ali,
       byteHammingDistance(concat('ab', toString(a3)),
                           concat('ab', toString(a1))) AS bh,
       byteHammingDistance('abc', 'abcde') AS bh2,
       arrayAUC(array(toFloat64(a1 * 4), toFloat64(a2 * 4 + 1),
                      toFloat64(a1 * 4 + 2), toFloat64(a3 * 4 + 3)),
                array(1, 0, 1, 0)) AS auc
FROM (
  SELECT o_orderkey,
         toInt64(o_orderkey % 5) AS a1,
         toInt64(o_orderkey % 3) AS a2,
         toInt64(o_orderkey % 7) AS a3
  FROM orders WHERE o_orderkey % 29 = 0
)
"""
    out = spark.sql(translate_ch_sql(ch_sql))
    return canon_arrays(out, "csnn")


@query(
    "sql_ch_dialect_vocab_r8",
    oracle=r"""
WITH p AS (
  SELECT o_orderkey,
         o_orderkey % 2 AS k2, o_orderkey % 3 AS k3, o_orderkey % 4 AS k4,
         o_orderkey % 5 AS k5, o_orderkey % 6 AS k6, o_orderkey % 9 AS k9,
         o_orderkey % 10 AS k10,
         TIMESTAMP '2022-01-01 00:00:00' + to_seconds(o_orderkey) AS ts
  FROM orders WHERE o_orderkey % 31 = 0
), q AS (
  SELECT *,
         substring('alphabetagamma', 1 + k4, 5) || CAST(k10 AS VARCHAR)
           || 'tail' AS txt,
         CAST(1 + k5 AS DOUBLE) AS a1, CAST(2 + k3 AS DOUBLE) AS a2,
         CAST(k4 AS DOUBLE) AS b1, CAST(1 + k6 AS DOUBLE) AS b2
  FROM p
)
SELECT o_orderkey,
       array_to_string(list_filter(string_split_regex(txt, '[^A-Za-z]+'),
                                   __x -> __x != ''), '|') AS sna,
       CAST((a1 - b1) * (a1 - b1) + (a2 - b2) * (a2 - b2) AS BIGINT) AS l2s,
       CAST(GREATEST(ABS(a1 - b1), ABS(a2 - b2)) AS BIGINT) AS linf,
       '[' || CAST(CAST(round(a1 / SQRT(a1 * a1 + a2 * a2) * 1000000)
                   AS BIGINT) AS VARCHAR)
           || ',' ||
           CAST(CAST(round(a2 / SQRT(a1 * a1 + a2 * a2) * 1000000)
                   AS BIGINT) AS VARCHAR) || ']' AS l2n,
       regexp_matches(txt, 'a.*p.*t') AS hsub,
       translate(txt, 'at', 'xy') AS tr,
       ascii(substring(txt, 1, 1)) AS asc1,
       rpad(CAST(k5 AS VARCHAR), 6, '*') AS rp,
       regexp_replace('a.' || CAST(k3 AS VARCHAR) || '*',
                      '([\.^$|?*+()\[\]{}\\])', '\\\1', 'g') AS rqm,
       epoch_ms(ts + to_milliseconds(1500 + o_orderkey % 997)) AS addms,
       epoch_ms(ts - to_milliseconds(250)) AS subms,
       epoch_ns(ts) AS ns,
       CAST(strftime(ts, '%Y%m%d%H%M%S') AS BIGINT) AS ymdhms,
       CAST(CAST(o_orderkey / 7 AS DECIMAL(38, 3)) AS VARCHAR) AS decs,
       'shop' || CAST(k9 AS VARCHAR) AS fss
FROM q
""",
)
def sql_ch_dialect_vocab_r8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 vocabulary batch: vector distances + normalize, non-alpha
    split, subsequence fold, translate/pad/quote-meta string ops,
    millisecond arithmetic, nano epoch, compact datetime int, decimal
    formatting, significant subdomain."""
    from moosestack_spark.sql.ch_functions import translate_ch_sql
    from moosestack_spark.tables import register_views

    register_views(spark, sf_dir, only=["orders"])
    ch_sql = """
SELECT o_orderkey,
       arrayStringConcat(splitByNonAlpha(txt), '|') AS sna,
       toInt64(L2SquaredDistance(va, vb)) AS l2s,
       toInt64(LinfDistance(va, vb)) AS linf,
       arrayMap(x -> toInt64(round(x * 1000000)), L2Normalize(va)) AS l2n,
       hasSubsequence(txt, 'apt') AS hsub,
       translateUTF8(txt, 'at', 'xy') AS tr,
       ascii(substring(txt, 1, 1)) AS asc1,
       rightPadUTF8(toString(o_orderkey % 5), 6, '*') AS rp,
       regexpQuoteMeta(concat('a.', toString(o_orderkey % 3), '*')) AS rqm,
       toUnixTimestamp64Milli(
         addMilliseconds(ts, 1500 + o_orderkey % 997)) AS addms,
       toUnixTimestamp64Milli(subtractMilliseconds(ts, 250)) AS subms,
       toUnixTimestamp64Nano(ts) AS ns,
       toYYYYMMDDhhmmss(ts) AS ymdhms,
       toDecimalString(o_orderkey / 7, 3) AS decs,
       firstSignificantSubdomain(url) AS fss
FROM (
  SELECT o_orderkey,
         concat(substring('alphabetagamma', 1 + (o_orderkey % 4), 5),
                toString(o_orderkey % 10), 'tail') AS txt,
         array(toFloat64(1 + o_orderkey % 5),
               toFloat64(2 + o_orderkey % 3)) AS va,
         array(toFloat64(o_orderkey % 4),
               toFloat64(1 + o_orderkey % 6)) AS vb,
         concat('https://sub', toString(o_orderkey % 9), '.shop',
                toString(o_orderkey % 9), '.co.uk/x') AS url,
         toDateTime(1640995200 + o_orderkey) AS ts
  FROM orders WHERE o_orderkey % 31 = 0
)
"""
    out = spark.sql(translate_ch_sql(ch_sql))
    return canon_arrays(out, "l2n")


@query(
    "sql_ch_dialect_vocab_r8b",
    oracle="""
SELECT o_orderpriority,
       (CAST(SUM(x * y) AS BIGINT)
          - CAST(SUM(x) AS BIGINT) * CAST(SUM(y) AS BIGINT)
            / CAST(COUNT(x) AS BIGINT))
         / CAST(COUNT(x) AS BIGINT) AS cvp,
       CAST(SUM(x * w) AS BIGINT) / CAST(SUM(w) AS BIGINT) AS aw,
       CAST(BIT_AND(m) AS BIGINT) AS ba,
       CAST(BIT_OR(m) AS BIGINT) AS bo,
       CAST(BIT_XOR(m) AS BIGINT) AS bx
FROM (
  SELECT o_orderpriority,
         CAST(o_orderkey % 100 AS BIGINT) AS x,
         CAST((o_orderkey % 100) * 3 + o_orderkey % 7 AS BIGINT) AS y,
         CAST(1 + o_orderkey % 9 AS BIGINT) AS w,
         CAST(o_orderkey % 256 AS BIGINT) AS m
  FROM orders WHERE o_orderkey % 11 = 0
)
GROUP BY o_orderpriority
""",
)
def sql_ch_dialect_vocab_r8b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 vocabulary, aggregate half: covarPop (power-sum spelling),
    avgWeighted, groupBitAnd/Or/Xor.  Float outputs are correctly-rounded
    chains over exact integer power sums (the r6c_agg discipline), so both
    engines agree bit-for-bit."""
    from moosestack_spark.sql.ch_functions import translate_ch_sql
    from moosestack_spark.tables import register_views

    register_views(spark, sf_dir, only=["orders"])
    ch_sql = """
SELECT o_orderpriority,
       covarPop(x, y) AS cvp,
       avgWeighted(x, w) AS aw,
       groupBitAnd(m) AS ba,
       groupBitOr(m) AS bo,
       groupBitXor(m) AS bx
FROM (
  SELECT o_orderpriority,
         CAST(o_orderkey % 100 AS BIGINT) AS x,
         CAST((o_orderkey % 100) * 3 + o_orderkey % 7 AS BIGINT) AS y,
         CAST(1 + o_orderkey % 9 AS BIGINT) AS w,
         CAST(o_orderkey % 256 AS BIGINT) AS m
  FROM orders WHERE o_orderkey % 11 = 0
)
GROUP BY o_orderpriority
"""
    return spark.sql(translate_ch_sql(ch_sql))


@query(
    "sql_ch_dialect_vocab_r8c",
    oracle="""
SELECT o_orderkey,
       CAST(trunc(v) AS BIGINT) AS tr,
       round_even(CAST((o_orderkey % 100) + 0.5 AS DOUBLE), 0) AS rb,
       round_even(v, 2) AS rb2,
       CAST((o_orderkey % 10000) // 3600 AS BIGINT) AS td_h,
       CAST((o_orderkey % 10000) // 60 AS BIGINT) AS td_m,
       CAST((1640995200 + o_orderkey % 10000) AS BIGINT) * 1000000 AS micro
FROM (
  SELECT o_orderkey,
         CAST((o_orderkey % 100) - 50 AS DOUBLE) / 7 AS v
  FROM orders WHERE o_orderkey % 37 = 0
)
""",
)
def sql_ch_dialect_vocab_r8c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 batch c: trunc (toward zero), roundBankers (HALF_EVEN =
    Spark bround vs DuckDB round_even), timestampDiff (complete-unit
    counting, the documented dateDiff semantics), toStartOfMicrosecond
    (identity at Spark's microsecond timestamp precision)."""
    from moosestack_spark.sql.ch_functions import translate_ch_sql
    from moosestack_spark.tables import register_views

    register_views(spark, sf_dir, only=["orders"])
    ch_sql = """
SELECT o_orderkey,
       trunc(v) AS tr,
       roundBankers(toFloat64((o_orderkey % 100) + 0.5), 0) AS rb,
       roundBankers(v, 2) AS rb2,
       timestampDiff('hour', ts0, ts1) AS td_h,
       timestampDiff('minute', ts0, ts1) AS td_m,
       toUnixTimestamp64Micro(toStartOfMicrosecond(ts1)) AS micro
FROM (
  SELECT o_orderkey,
         ((o_orderkey % 100) - 50) / 7 AS v,
         toDateTime(1640995200) AS ts0,
         toDateTime(1640995200 + (o_orderkey % 10000)) AS ts1
  FROM orders WHERE o_orderkey % 37 = 0
)
"""
    return spark.sql(translate_ch_sql(ch_sql))


@query(
    "sql_ch_dialect_vocab_r9",
    oracle=r"""
SELECT o_orderkey,
       CAST(FLOOR(CAST(epoch(ts) AS DOUBLE) / 60) AS BIGINT) AS rmin,
       CAST(FLOOR(CAST(epoch(ts) AS DOUBLE) / 3600) AS BIGINT) AS rhour,
       CAST(FLOOR(CAST(epoch(ts) AS DOUBLE) / 86400) AS BIGINT) AS rday,
       json_valid(js) AS vj,
       json_valid(bad) AS vjb,
       regexp_replace(regexp_replace(q, '''[^'']*''', '?', 'g'),
                      '(^|[^A-Za-z_0-9])[0-9]+(\.[0-9]+)?', '\1?',
                      'g') AS nq,
       array_to_string(
         list_transform(
           list_zip(regexp_extract_all(kv, '([a-z])=([0-9]+)', 1),
                    regexp_extract_all(kv, '([a-z])=([0-9]+)', 2)),
           s -> s[1] || ':' || s[2]), '|') AS eag
FROM (
  SELECT o_orderkey,
         TIMESTAMP '2022-01-01 00:00:00'
           + to_seconds(o_orderkey * 37 % 40000000) AS ts,
         'x=' || CAST(o_orderkey % 9 AS VARCHAR)
           || ';y=' || CAST(o_orderkey % 77 AS VARCHAR)
           || ';z=' || CAST(o_orderkey % 500 AS VARCHAR) AS kv,
         '{"a":' || CAST(o_orderkey % 50 AS VARCHAR) || '}' AS js,
         '{oops' || CAST(o_orderkey % 3 AS VARCHAR) AS bad,
         'SELECT col' || CAST(o_orderkey % 7 AS VARCHAR)
           || ' FROM t WHERE a = ' || CAST(o_orderkey % 100 AS VARCHAR)
           || ' AND s = ''v' || CAST(o_orderkey % 5 AS VARCHAR)
           || ''' AND b IN (1, 2.5)' AS q
  FROM orders WHERE o_orderkey % 31 = 0
)
""",
)
def sql_ch_dialect_vocab_r9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-9 scalar vocabulary through the dialect translator."""
    from moosestack_spark.sql.ch_functions import translate_ch_sql
    from moosestack_spark.tables import register_views

    register_views(spark, sf_dir, only=["orders"])
    ch_sql = """
SELECT o_orderkey,
       toRelativeMinuteNum(ts) AS rmin,
       toRelativeHourNum(ts) AS rhour,
       toRelativeDayNum(ts) AS rday,
       isValidJSON(js) AS vj,
       isValidJSON(bad) AS vjb,
       normalizeQuery(q) AS nq,
       arrayStringConcat(
         arrayMap(g -> arrayStringConcat(g, ':'),
                  extractAllGroupsVertical(kv, '([a-z])=([0-9]+)')),
         '|') AS eag
FROM (
  SELECT o_orderkey,
         toDateTime(1640995200 + o_orderkey * 37 % 40000000) AS ts,
         concat('x=', toString(o_orderkey % 9),
                ';y=', toString(o_orderkey % 77),
                ';z=', toString(o_orderkey % 500)) AS kv,
         concat('{"a":', toString(o_orderkey % 50), '}') AS js,
         concat('{oops', toString(o_orderkey % 3)) AS bad,
         concat('SELECT col', toString(o_orderkey % 7),
                ' FROM t WHERE a = ', toString(o_orderkey % 100),
                ' AND s = ''v', toString(o_orderkey % 5),
                ''' AND b IN (1, 2.5)') AS q
  FROM orders WHERE o_orderkey % 31 = 0
)
"""
    return spark.sql(translate_ch_sql(ch_sql))


_SK = _sm.skew_samp_sql("x")
_KU = _sm.kurt_samp_sql("x")

@query(
    "sql_ch_dialect_vocab_r9b",
    oracle=f"""
WITH base AS (
  SELECT o_orderpriority,
         CAST(o_orderkey % 97 AS BIGINT)
           + CAST((o_orderkey % 13) * (o_orderkey % 7) AS BIGINT) AS x,
         CAST(o_orderkey AS BIGINT) AS t,
         CAST((o_orderkey * 7919) % 1000 AS BIGINT) AS v,
         CAST(1 + o_orderkey % 9 AS BIGINT) AS w
  FROM orders WHERE o_orderkey % 11 = 0
), dst AS (
  SELECT o_orderpriority,
         CAST(SUM(CASE WHEN dv > 0 THEN dv ELSE 0 END) AS BIGINT) AS dst
  FROM (
    SELECT o_orderpriority,
           v - LAG(v) OVER (PARTITION BY o_orderpriority ORDER BY t) AS dv
    FROM base
  ) GROUP BY o_orderpriority
), agg AS (
  SELECT o_orderpriority,
         CAST(ROUND({_SK} * 1000000) AS BIGINT) AS sk,
         CAST(ROUND({_KU} * 1000000) AS BIGINT) AS ku,
         CAST(SUM(x) AS BIGINT) AS sx
  FROM base GROUP BY o_orderpriority
), qw AS (
  SELECT o_orderpriority,
         MIN(CASE WHEN cw >= t THEN xd END) AS qw
  FROM (
    SELECT o_orderpriority, CAST(x AS DOUBLE) AS xd,
           SUM(w) OVER (PARTITION BY o_orderpriority ORDER BY x, w
                        ROWS UNBOUNDED PRECEDING) AS cw,
           CAST(CEIL(0.5 * SUM(w) OVER (PARTITION BY o_orderpriority))
                AS BIGINT) AS t
    FROM base
  ) GROUP BY o_orderpriority
)
SELECT agg.o_orderpriority, sk, ku, sx, dst, qw
FROM agg JOIN dst USING (o_orderpriority) JOIN qw USING (o_orderpriority)
""",
)
def sql_ch_dialect_vocab_r9b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-9 aggregate vocabulary through the dialect translator."""
    from moosestack_spark.sql.ch_functions import translate_ch_sql
    from moosestack_spark.tables import register_views

    register_views(spark, sf_dir, only=["orders"])
    ch_sql = """
SELECT o_orderpriority,
       toInt64(round(skewSamp(x) * 1000000)) AS sk,
       toInt64(round(kurtSamp(x) * 1000000)) AS ku,
       toInt64(sum(x)) AS sx,
       deltaSumTimestamp(v, t) AS dst,
       quantileExactWeighted(0.5)(x, w) AS qw
FROM (
  SELECT o_orderpriority,
         toInt64(o_orderkey % 97) + toInt64((o_orderkey % 13) * (o_orderkey % 7)) AS x,
         toInt64(o_orderkey) AS t,
         toInt64((o_orderkey * 7919) % 1000) AS v,
         toInt64(1 + o_orderkey % 9) AS w
  FROM orders WHERE o_orderkey % 11 = 0
)
GROUP BY o_orderpriority
"""
    return spark.sql(translate_ch_sql(ch_sql))


@query(
    "sql_ch_dialect_vocab_r9c",
    oracle=r"""
SELECT o_orderkey,
       CAST(FLOOR(epoch_us(TIMESTAMP '2022-01-01 00:00:00'
                           + to_seconds(o_orderkey % 50)
                           + to_microseconds((o_orderkey * 977) % 1000000))
                  / 1000) AS BIGINT) AS dt64ms,
       '[' || array_to_string(list_transform(
           generate_series(lo, lo + 2), k -> CAST(k AS VARCHAR)), ',')
           || ']' AS mk,
       '[' || array_to_string(list_transform(generate_series(lo, lo + 2),
           k -> CAST(CASE WHEN k = lo THEN va
                          WHEN k = lo + 2 THEN vb ELSE 0 END AS VARCHAR)),
           ',') || ']' AS mv,
       regexp_matches(txt, '(^|[^0-9A-Za-z])tok($|[^0-9A-Za-z])') AS ht,
       regexp_matches(txt2, '(^|[^0-9A-Za-z])tok($|[^0-9A-Za-z])') AS ht2,
       'v' || CAST(o_orderkey % 50 AS VARCHAR) AS b64ok,
       '' AS b64bad
FROM (
  SELECT o_orderkey,
         CAST(o_orderkey % 5 + 1 AS BIGINT) AS lo,
         CAST(o_orderkey % 90 AS BIGINT) AS va,
         CAST(o_orderkey % 70 AS BIGINT) AS vb,
         'a tok-' || CAST(o_orderkey % 3 AS VARCHAR) AS txt,
         'atok ' || CAST(o_orderkey % 3 AS VARCHAR) AS txt2
  FROM orders WHERE o_orderkey % 31 = 0
)
""",
)
def sql_ch_dialect_vocab_r9c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-9 third vocabulary batch: toDateTime64 precision truncation
    (surfaced as epoch millis), mapPopulateSeries (dense-key fill,
    serialized via mapKeys/mapValues), hasToken (token-boundary literal
    search, needle regexp-quoted), tryBase64Decode ('' on undecodable
    input).  The map is built with mapFromArrays so population and
    serialization both run through the dialect."""
    from moosestack_spark.registry import canon_arrays
    from moosestack_spark.sql.ch_functions import translate_ch_sql
    from moosestack_spark.tables import register_views

    register_views(spark, sf_dir, only=["orders"])
    ch_sql = """
SELECT o_orderkey,
       toUnixTimestamp64Milli(toDateTime64(ts_s, 3)) AS dt64ms,
       mapKeys(mapPopulateSeries(m)) AS mk,
       mapValues(mapPopulateSeries(m)) AS mv,
       hasToken(txt, 'tok') AS ht,
       hasToken(txt2, 'tok') AS ht2,
       tryBase64Decode(base64Encode(concat('v', toString(o_orderkey % 50)))) AS b64ok,
       tryBase64Decode(concat('!!', toString(o_orderkey % 7))) AS b64bad
FROM (
  SELECT o_orderkey,
         concat('2022-01-01 00:00:',
                leftPad(toString(o_orderkey % 50), 2, '0'),
                '.', leftPad(toString((o_orderkey * 977) % 1000000), 6, '0')
               ) AS ts_s,
         mapFromArrays(
           array(toInt64(o_orderkey % 5 + 1), toInt64(o_orderkey % 5 + 3)),
           array(toInt64(o_orderkey % 90), toInt64(o_orderkey % 70))) AS m,
         concat('a tok-', toString(o_orderkey % 3)) AS txt,
         concat('atok ', toString(o_orderkey % 3)) AS txt2
  FROM orders WHERE o_orderkey % 31 = 0
)
"""
    return canon_arrays(spark.sql(translate_ch_sql(ch_sql)), "mk", "mv")
