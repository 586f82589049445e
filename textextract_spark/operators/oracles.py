"""DuckDB oracle SQL twins for every SQL-expressible query in the driver
contract (__spark_entry__.oracle_sql). Keys match queries() exactly; column
aliases match the Spark DataFrames exactly (driver hashes values after
sorting columns by name).

DuckDB notes: regexp_replace needs the 'g' flag (Spark's is global by
default); time_bucket is the epoch-aligned twin of Spark's window().
"""

ORACLES: dict[str, str] = {
    # -- relational ---------------------------------------------------------
    "filter_eq_project": """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer WHERE c_mktsegment = 'BUILDING'
        ORDER BY c_custkey
    """,
    "range_filter": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                              AND TIMESTAMP '1996-06-30 00:00:00'
          AND o_orderstatus = 'F'
        ORDER BY o_orderkey
    """,
    "quota_case": """
        WITH usage AS (
            SELECT o_custkey, count(*) AS order_count
            FROM orders GROUP BY o_custkey
        )
        SELECT c.c_custkey,
               COALESCE(u.order_count, 0) AS order_count,
               CASE WHEN c.c_acctbal < 0 THEN 'no:negative_balance'
                    WHEN COALESCE(u.order_count, 0) >= 15
                         THEN 'no:quota_exceeded'
                    WHEN c.c_acctbal > 5000 THEN 'yes:premium'
                    ELSE 'yes:standard' END AS can_order
        FROM customer c LEFT JOIN usage u ON c.c_custkey = u.o_custkey
        ORDER BY c.c_custkey
    """,
    "fk_broadcast_join": """
        SELECT r.r_name,
               count(*) AS customer_count,
               round(sum(c.c_acctbal), 2) AS total_acctbal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name ORDER BY r.r_name
    """,
    "anti_join_missing": """
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 300000)
        ORDER BY c_custkey
    """,
    "semi_join_active": """
        SELECT s_suppkey, s_name FROM supplier s
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_suppkey = s.s_suppkey)
        ORDER BY s_suppkey
    """,
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2)
                   AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2025-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "period_sum": """
        SELECT user_id,
               round(sum(value), 2) AS period_value,
               count(*) AS period_events
        FROM events
        WHERE ts BETWEEN TIMESTAMP '2024-01-01 00:00:00'
                     AND TIMESTAMP '2024-02-01 00:00:00'
        GROUP BY user_id ORDER BY user_id
    """,
    "daily_counters": """
        SELECT user_id,
               CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
               count(*) AS requests_count,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS billable_count,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   AS BIGINT) AS error_count
        FROM events GROUP BY user_id, CAST(CAST(ts AS DATE) AS VARCHAR)
        ORDER BY user_id, event_date
    """,
    "window_ratelimit": """
        SELECT CAST(time_bucket(INTERVAL '15 minutes', ts) AS VARCHAR)
                   AS window_start,
               user_id, count(*) AS hits
        FROM events
        GROUP BY 1, user_id HAVING count(*) >= 2
        ORDER BY window_start, user_id
    """,
    "resp_stats": """
        SELECT event_type, count(*) AS n,
               round(sum(value), 2) AS total_value,
               round(avg(value), 4) AS avg_value,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   AS BIGINT) AS error_count
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "month_rollup": """
        SELECT CAST(year(o_orderdate) AS INT) AS order_year,
               CAST(month(o_orderdate) AS INT) AS order_month,
               count(*) AS order_count,
               round(sum(o_totalprice), 2) AS month_total
        FROM orders GROUP BY 1, 2 ORDER BY order_year, order_month
    """,
    "distinct_users": """
        SELECT event_type,
               count(DISTINCT user_id) AS distinct_users,
               count(*) AS events
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    # sketch-aggregation bound check: exact columns recomputed, booleans
    # hard-coded TRUE — a sketch drifting outside its advertised bound
    # (HLL rsd=0.02 vs 5%; percentile_approx vs its RANK guarantee,
    # 1% slack) goes red
    "approx_stats": """
        SELECT event_type,
               count(DISTINCT user_id) AS distinct_users,
               count(*) AS events,
               TRUE AS hll_within_5pct,
               TRUE AS p50_rank_within_1pct,
               TRUE AS p95_rank_within_1pct
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "latest_event_per_user": """
        SELECT user_id, event_id, event_type FROM (
            SELECT user_id, event_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events) WHERE rn = 1
        ORDER BY user_id
    """,
    "top1_per_type": """
        SELECT event_type, event_id, round(value, 2) AS value FROM (
            SELECT event_type, event_id, value,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY value DESC, event_id ASC)
                       AS rn
            FROM events) WHERE rn = 1
        ORDER BY event_type
    """,
    "version_rank": """
        SELECT p_brand, brand_num,
               CAST(row_number() OVER (ORDER BY brand_num) AS INT)
                   AS brand_rank
        FROM (SELECT DISTINCT p_brand,
                     CAST(split_part(p_brand, '#', 2) AS INT) AS brand_num
              FROM part)
        ORDER BY brand_num
    """,
    "topk_orders": """
        SELECT o_orderkey, round(o_totalprice, 2) AS total_price
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
    "pagination": """
        SELECT rn, o_orderkey, o_custkey FROM (
            SELECT CAST(row_number() OVER (
                       ORDER BY o_orderdate DESC, o_orderkey ASC) AS INT)
                       AS rn,
                   o_orderkey, o_custkey
            FROM orders)
        WHERE rn > 40 AND rn <= 60 ORDER BY rn
    """,
    "keyset_pagination": """
        SELECT o_orderkey, o_custkey,
               strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_date
        FROM orders
        WHERE o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
           OR (o_orderdate = TIMESTAMP '1998-06-15 00:00:00'
               AND o_orderkey > 4000)
        ORDER BY o_orderdate DESC, o_orderkey ASC LIMIT 20
    """,
    "union_branches": """
        SELECT branch, count(*) AS n,
               round(sum(value), 2) AS branch_value
        FROM (
            SELECT 'purchase_hi' AS branch, value FROM events
            WHERE event_type = 'purchase' AND value > 100
            UNION ALL
            SELECT 'error' AS branch, value FROM events
            WHERE event_type = 'error')
        GROUP BY branch ORDER BY branch
    """,
    "json_props_stats": """
        SELECT event_type, count(*) AS n,
               min(CAST(json_extract_string(props, '$.k') AS INT)) AS k_min,
               max(CAST(json_extract_string(props, '$.k') AS INT)) AS k_max,
               round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4)
                   AS k_avg
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    # -- geometry / unit arithmetic (P1 + P2 gate, F13) ----------------------
    "normalize_selection": """
        WITH raw AS (
            SELECT event_id,
                   (event_id * 131) % 1920 AS rx1,
                   (event_id * 173) % 1080 AS ry1,
                   (event_id * 197) % 1920 AS rx2,
                   (event_id * 239) % 1080 AS ry2
            FROM events)
        SELECT event_id,
               least(rx1, rx2) AS x1, least(ry1, ry2) AS y1,
               greatest(rx1, rx2) AS x2, greatest(ry1, ry2) AS y2,
               CASE WHEN greatest(rx1, rx2) - least(rx1, rx2) < 5
                      OR greatest(ry1, ry2) - least(ry1, ry2) < 5
                    THEN 'too_small' ELSE 'ok' END AS selection_status
        FROM raw ORDER BY event_id
    """,
    "asset_size_mb": """
        SELECT p_partkey,
               CAST(floor(p_retailprice * 131072) AS BIGINT) AS size_bytes,
               round(CAST(floor(p_retailprice * 131072) AS BIGINT)
                     / (1024.0 * 1024.0), 2) AS size_mb
        FROM part ORDER BY p_partkey
    """,
    # -- text / dedup -------------------------------------------------------
    "dedup_exact": """
        SELECT md5(text) AS content_hash,
               min(doc_id) AS keeper_doc_id,
               count(*) AS dup_count
        FROM documents GROUP BY md5(text) ORDER BY keeper_doc_id
    """,
    "doc_fingerprint": """
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                   AS fingerprint,
               length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                   AS norm_len
        FROM documents ORDER BY doc_id
    """,
    "token_stats": """
        SELECT doc_id, lang,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS INT)
                   AS n_tokens,
               length(trim(text)) AS n_chars_trim,
               round(length(regexp_replace(trim(text), '\\s+', '', 'g'))
                     / len(string_split_regex(trim(text), '\\s+')), 4)
                   AS avg_token_len
        FROM documents WHERE length(trim(text)) > 0 ORDER BY doc_id
    """,
    "payload_base64": """
        SELECT doc_id,
               substr(to_base64(encode(text)), 1, 32) AS b64_head,
               CAST(length(to_base64(encode(text))) AS INT) AS b64_len,
               CAST(octet_length(from_base64(to_base64(encode(text))))
                    AS INT) AS decoded_len,
               CAST(octet_length(encode(text)) AS INT) AS raw_len
        FROM documents ORDER BY doc_id
    """,
    "token_bpe_stats": r"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                   '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\r]')) AS INT)
                   AS n_tokens,
               CAST(len(list_distinct(regexp_extract_all(text,
                   '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\r]'))) AS INT)
                   AS n_distinct,
               CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS INT)
                   AS n_alpha,
               CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT)
                   AS n_digit,
               CAST(len(regexp_extract_all(text,
                   '[^a-zA-Z0-9 \t\n\r]')) AS INT) AS n_marks
        FROM documents WHERE length(text) > 0 ORDER BY doc_id
    """,
    # -- BPE-merge bounds twin (the merge loop itself is rows-only; see
    # __spark_entry__._bpe_bounds): pretoken totals recomputed via RE2
    # regexp_extract_all, n_violations hard-coded 0 -----------------------
    "bpe_bounds": r"""
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(0 AS BIGINT) AS n_violations,
               CAST(sum(len(regexp_extract_all(text,
                   '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\r]'))) AS BIGINT)
                   AS total_pretokens,
               CAST(sum(COALESCE(list_sum(list_transform(
                   regexp_extract_all(text,
                       '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\r]'),
                   x -> length(x))), 0)) AS BIGINT)
                   AS total_pretoken_chars
        FROM documents WHERE length(text) > 0
    """,
    # BPE TRAINING derived metrics (twin of textdata.bpe_train_stats):
    # pretoken totals + the base alphabet (distinct non-whitespace chars
    # == distinct chars over pretokens, since the pretoken classes cover
    # every non-ws char) recomputed exactly; the merge-loop facts are
    # invariants hard-coded here — a Spark-side violation diverges.
    # 89 = the measured SATURATION of the driver-fixed 31-word corpus
    # pool (see textdata.BPE_TRAIN_N_MERGES): the r6 row requests 256
    # merges and must exhaust the pair supply at exactly 89, with the
    # corpus fully merged (saturated TRUE). A trainer that stops early,
    # loops past exhaustion, or miscounts diverges on n_merges_learned
    # or saturated.
    "bpe_train_stats": r"""
        WITH pre AS (
            SELECT regexp_extract_all(text,
                       '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\r]') AS toks
            FROM documents WHERE length(text) > 0),
        chars AS (
            SELECT DISTINCT unnest(list_transform(
                       range(1, length(w) + 1),
                       i -> substr(w, CAST(i AS INT), 1))) AS ch
            FROM (SELECT DISTINCT unnest(toks) AS w FROM pre))
        SELECT CAST(89 AS BIGINT) AS n_merges_learned,
               (SELECT CAST(count(*) AS BIGINT) FROM chars)
                   AS n_base_chars,
               (SELECT CAST(count(*) + 89 AS BIGINT) FROM chars)
                   AS vocab_size,
               CAST(sum(len(toks)) AS BIGINT) AS total_pretokens,
               CAST(sum(COALESCE(list_sum(list_transform(
                   toks, x -> length(x))), 0)) AS BIGINT)
                   AS total_pretoken_chars,
               TRUE AS saturated,
               TRUE AS merged_bounds_ok,
               TRUE AS merges_well_formed
        FROM pre
    """,
    "quality_score": """
        WITH q AS (
            SELECT doc_id, text, length(text) AS n,
                   list_filter(list_transform(string_split(text, chr(10)),
                                              x -> trim(x)),
                               x -> length(x) > 0) AS lines
            FROM documents WHERE length(text) > 0),
        q2 AS (
            SELECT doc_id, text, n,
                   CASE WHEN len(lines) > 0
                        THEN CAST(len(lines) - len(list_distinct(lines))
                                  AS DOUBLE) / len(lines)
                        ELSE 0.0 END AS dup_frac
            FROM q)
        SELECT doc_id,
               n AS n_chars,
               round((n - length(regexp_replace(text, '[0-9]', '', 'g')))
                     / n, 4) AS digit_ratio,
               round((n - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                     / n, 4) AS punct_ratio,
               round((n - length(replace(text, ' ', ''))) / n, 4)
                   AS space_ratio,
               round(dup_frac, 4) AS dup_line_frac,
               CASE WHEN n < 50 THEN 'too_short'
                    WHEN (n - length(regexp_replace(text, '[0-9]', '', 'g')))
                         / n > 0.3 THEN 'too_numeric'
                    WHEN dup_frac > 0.3 THEN 'repetitive'
                    WHEN (n - length(replace(text, ' ', '')))
                         / n < 0.05 THEN 'no_spaces'
                    ELSE 'ok' END AS quality
        FROM q2 ORDER BY doc_id
    """,
    # -- Gopher/C4 repetition filters: duplicate-line fractions (line- and
    # char-weighted), top word-2-gram char fraction (packed (cnt, len)
    # max = the same tie-break as the Spark side), ellipsis/bullet line
    # ratios ----------------------------------------------------------------
    "repetition_stats": r"""
        WITH d AS (
            SELECT doc_id, text, length(text) AS n_chars,
                   list_filter(list_transform(string_split(text, chr(10)),
                                              x -> trim(x)),
                               x -> length(x) > 0) AS lines
            FROM documents WHERE length(trim(text)) > 0),
        lx AS (SELECT doc_id, n_chars, unnest(lines) AS line FROM d),
        pl AS (SELECT doc_id, n_chars, line, count(*) AS cnt
               FROM lx GROUP BY doc_id, n_chars, line),
        ls AS (SELECT doc_id, n_chars,
                      CAST(sum(cnt) AS BIGINT) AS n_lines,
                      count(*) AS n_distinct_lines,
                      CAST(sum(cnt * length(line)) AS BIGINT) AS line_chars,
                      CAST(sum(CASE WHEN cnt > 1 THEN cnt * length(line)
                                    ELSE 0 END) AS BIGINT) AS dup_line_chars,
                      CAST(sum(CASE WHEN ends_with(line, '...')
                                      OR ends_with(line, '…')
                                    THEN cnt ELSE 0 END) AS BIGINT)
                          AS ellipsis_lines,
                      CAST(sum(CASE WHEN starts_with(line, '-')
                                      OR starts_with(line, '*')
                                      OR starts_with(line, '•')
                                    THEN cnt ELSE 0 END) AS BIGINT)
                          AS bullet_lines
               FROM pl GROUP BY doc_id, n_chars),
        w AS (SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\s+') AS ws
              FROM documents WHERE length(trim(text)) > 0),
        g AS (SELECT doc_id,
                     concat_ws(' ', ws[CAST(i AS INT)],
                               ws[CAST(i AS INT) + 1]) AS gram
              FROM w, LATERAL unnest(range(1, len(ws))) AS u(i)
              WHERE len(ws) >= 2),
        pg AS (SELECT doc_id, gram, count(*) AS cnt
               FROM g GROUP BY doc_id, gram),
        gs AS (SELECT doc_id,
                      max(cnt * 100000 + length(gram)) AS packed
               FROM pg GROUP BY doc_id)
        SELECT ls.doc_id, n_lines,
               round(CAST(n_lines - n_distinct_lines AS DOUBLE) / n_lines,
                     4) AS dup_line_frac,
               round(CAST(dup_line_chars AS DOUBLE) / line_chars, 4)
                   AS dup_line_char_frac,
               round(CAST(ellipsis_lines AS DOUBLE) / n_lines, 4)
                   AS ellipsis_line_frac,
               round(CAST(bullet_lines AS DOUBLE) / n_lines, 4)
                   AS bullet_line_frac,
               round(COALESCE(CAST((packed // 100000) * (packed % 100000)
                                   AS DOUBLE) / n_chars, 0), 4)
                   AS top2gram_char_frac
        FROM ls LEFT JOIN gs ON ls.doc_id = gs.doc_id
        ORDER BY ls.doc_id
    """,
    # winnowing rolling-hash fingerprint twin (textdata.winnow_fingerprint):
    # same Horner codepoint hash per char 5-gram (unicode() == Spark's
    # ascii(): first-char codepoint), same window-4 min + distinct + sort.
    # range() is end-EXCLUSIVE where Spark's sequence() is inclusive, hence
    # the -3/-2 bounds for the -4/-3 gram/window counts
    "winnow_fingerprint": r"""
        WITH d AS (
            SELECT doc_id,
                   regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS n
            FROM documents
            WHERE length(regexp_replace(trim(lower(text)),
                                        '\s+', ' ', 'g')) >= 8),
        h AS (
            SELECT doc_id, CAST(length(n) - 4 AS INT) AS n_grams,
                   list_transform(range(1, length(n) - 3),
                     i -> ((((unicode(substr(n, CAST(i AS INT), 1))
                              * 31
                              + unicode(substr(n, CAST(i AS INT) + 1, 1)))
                              * 31
                              + unicode(substr(n, CAST(i AS INT) + 2, 1)))
                              * 31
                              + unicode(substr(n, CAST(i AS INT) + 3, 1)))
                              * 31
                              + unicode(substr(n, CAST(i AS INT) + 4, 1)))
                   ) AS hs
            FROM d),
        w AS (
            SELECT doc_id, n_grams,
                   list_sort(list_distinct(list_transform(
                       range(1, len(hs) - 2),
                       p -> list_min(list_slice(hs, CAST(p AS INT),
                                                CAST(p AS INT) + 3)))))
                       AS fp
            FROM h)
        SELECT doc_id, n_grams,
               CAST(len(fp) AS INT) AS n_fingerprints,
               fp[1] AS fp_min,
               md5(array_to_string(fp, ',')) AS fp_digest
        FROM w ORDER BY doc_id
    """,
    # C4-style cross-corpus line dedup over the synthesized multi-line
    # corpus (own text + residue-class snippet + global footer — same
    # construction as textdata.line_dedup): group directly on the line
    # text (Spark groups on md5(line), identical partition), same
    # two-field lexicographic (doc_id, line_no) winner (DuckDB ROW min
    # == Spark struct min)
    "line_dedup": r"""
        WITH seeds AS (
            SELECT doc_id AS sid, substr(text, 1, 80) AS snip
            FROM documents WHERE doc_id < 7),
        multi AS (
            SELECT d.doc_id,
                   concat_ws(chr(10), d.text, s.snip,
                             'subscribe to our newsletter for updates and offers')
                       AS text
            FROM documents d JOIN seeds s ON d.doc_id % 7 = s.sid),
        raw AS (
            SELECT doc_id,
                   unnest(generate_series(1,
                          len(string_split(text, chr(10))))) AS line_no,
                   unnest(list_transform(string_split(text, chr(10)),
                                         x -> trim(x))) AS line
            FROM multi),
        ne AS (SELECT * FROM raw WHERE length(line) > 0),
        stats AS (
            SELECT line, count(*) AS c,
                   min(ROW(doc_id, line_no)) AS w
            FROM ne GROUP BY line),
        kept AS (
            SELECT n.doc_id, n.line_no, n.line,
                   (s.c = 1 OR ROW(n.doc_id, n.line_no) = s.w)
                       AS keep
            FROM ne n JOIN stats s ON n.line = s.line)
        , agg AS (
            SELECT doc_id,
                   COALESCE(string_agg(CASE WHEN keep THEN line END,
                                       chr(10) ORDER BY line_no), '')
                       AS clean_text,
                   count(*) AS n_lines,
                   CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_kept
            FROM kept GROUP BY doc_id)
        -- left join from the INPUT docs (twin of the Spark side's
        -- verdict-for-every-row left join): a whitespace-only doc keeps
        -- its row with clean_text='' and zero counts
        SELECT m.doc_id,
               COALESCE(a.clean_text, '') AS clean_text,
               CAST(COALESCE(a.n_lines, 0) AS BIGINT) AS n_lines,
               CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
               CAST(COALESCE(a.n_lines, 0) - COALESCE(a.n_kept, 0)
                    AS BIGINT) AS n_dropped
        FROM multi m LEFT JOIN agg a ON m.doc_id = a.doc_id
        ORDER BY m.doc_id
    """,
    # crawl-side URL canonicalization + dedup: same deterministic messy
    # urls synthesized from doc_id (twin of operators.urls.url_dedup),
    # same decompose/normalize/rebuild — patterns shared verbatim with
    # the Spark side (classes + capture groups only, RE2-safe)
    # URL blocklist filtering (twin of urls.url_blocklist): same
    # synthesized hosts/paths, same banned-host list and keyword regex
    "url_blocklist": r"""
        WITH pages AS (
            SELECT doc_id,
                   'https://h' || CAST(CASE WHEN doc_id % 2 = 0 THEN 0
                                       ELSE doc_id % 7 + 1 END AS VARCHAR)
                   || '.example.com'
                   || CASE WHEN doc_id % 31 = 6 THEN '/casino' ELSE '' END
                   || '/p/' || CAST(doc_id AS VARCHAR) AS url
            FROM documents),
        v AS (
            SELECT doc_id, url,
                   lower(regexp_extract(
                       regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1),
                       '^([^:]*)', 1)) AS host,
                   lower(regexp_extract(
                       url, '^[^:/?#]+://[^/?#]*(.*)', 1)) AS rest
            FROM pages)
        SELECT doc_id, url, host,
               host IN ('h3.example.com', 'h5.example.com')
                   AS blocked_host,
               regexp_matches(rest, '(casino|xxx|viagra|warez)')
                   AS blocked_path,
               NOT (host IN ('h3.example.com', 'h5.example.com'))
               AND NOT regexp_matches(rest, '(casino|xxx|viagra|warez)')
                   AS keep
        FROM v ORDER BY doc_id
    """,
    # per-host document cap (twin of urls.host_cap): same synthesized
    # multi-host crawl with one hot even-doc host; DuckDB may use the
    # row_number window the Spark side deliberately avoids (oracle
    # scale has no hot-key problem) — divergence of the two FORMS is
    # the point of the check
    "host_cap": r"""
        WITH pages AS (
            SELECT doc_id,
                   'h' || CAST(CASE WHEN doc_id % 2 = 0 THEN 0
                                    ELSE doc_id % 7 + 1 END AS VARCHAR)
                       || '.example.com' AS host,
                   TIMESTAMP '2025-01-01 00:00:00'
                     + CAST(doc_id AS INT) * INTERVAL 1 SECOND AS warc_ts
            FROM documents),
        r AS (
            SELECT doc_id, host, warc_ts,
                   row_number() OVER (PARTITION BY host
                                      ORDER BY warc_ts, doc_id) AS rn
            FROM pages)
        SELECT doc_id, host, warc_ts FROM r WHERE rn <= 10
        ORDER BY doc_id
    """,
    "url_dedup": r"""
        WITH pages AS (
            SELECT doc_id,
                   CASE
                     WHEN doc_id % 4 = 0 THEN
                       'HTTP://Example.COM:80/a/'
                         || CAST(doc_id // 4 AS VARCHAR) || '/'
                     WHEN doc_id % 4 = 1 THEN
                       'http://example.com/a/'
                         || CAST(doc_id // 4 AS VARCHAR)
                     WHEN doc_id % 4 = 2 THEN
                       'https://Example.com:443/b/'
                         || CAST(doc_id // 4 AS VARCHAR)
                         || '?utm_source=x&id='
                         || CAST(doc_id // 4 AS VARCHAR) || '#frag'
                     ELSE
                       'https://example.com/b/'
                         || CAST(doc_id // 4 AS VARCHAR)
                         || '?id=' || CAST(doc_id // 4 AS VARCHAR)
                   END AS url,
                   TIMESTAMP '2025-01-01 00:00:00'
                     + CAST(doc_id AS INT) * INTERVAL 1 SECOND AS warc_ts
            FROM documents),
        parts AS (
            SELECT doc_id, warc_ts,
                   lower(regexp_extract(url, '^([^:/?#]+)://', 1))
                       AS scheme,
                   lower(regexp_extract(
                       regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1),
                       '^([^:]*)', 1)) AS host,
                   regexp_extract(
                       regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1),
                       ':([0-9]+)$', 1) AS port,
                   regexp_extract(
                       regexp_extract(url,
                                      '^[^:/?#]+://[^/?#]*([^#]*)', 1),
                       '^([^?]*)', 1) AS path,
                   regexp_extract(
                       regexp_extract(url,
                                      '^[^:/?#]+://[^/?#]*([^#]*)', 1),
                       '\?(.*)$', 1) AS query
            FROM pages),
        canon AS (
            SELECT doc_id, warc_ts,
                   scheme || '://' || host
                   || CASE WHEN port = ''
                             OR (scheme = 'http' AND port = '80')
                             OR (scheme = 'https' AND port = '443')
                           THEN '' ELSE ':' || port END
                   || CASE WHEN regexp_replace(path, '/+$', '') = ''
                           THEN '/'
                           ELSE regexp_replace(path, '/+$', '') END
                   || CASE WHEN COALESCE(array_to_string(
                               list_filter(string_split(query, '&'),
                                   p -> p <> ''
                                        AND NOT starts_with(p, 'utm_')),
                               '&'), '') = ''
                           THEN ''
                           ELSE '?' || array_to_string(
                               list_filter(string_split(query, '&'),
                                   p -> p <> ''
                                        AND NOT starts_with(p, 'utm_')),
                               '&') END AS canonical_url
            FROM parts)
        SELECT canonical_url,
               arg_max(doc_id, warc_ts) AS keeper_doc_id,
               count(*) AS n_captures,
               min(warc_ts) AS first_ts,
               max(warc_ts) AS last_ts
        FROM canon GROUP BY canonical_url ORDER BY canonical_url
    """,
    # per-host crawl/frontier stats over the same synthesized crawl
    # (twin of urls.host_stats; host = lowercased authority sans port)
    "host_stats": r"""
        WITH pages AS (
            SELECT doc_id,
                   CASE
                     WHEN doc_id % 4 = 0 THEN
                       'HTTP://Example.COM:80/a/'
                         || CAST(doc_id // 4 AS VARCHAR) || '/'
                     WHEN doc_id % 4 = 1 THEN
                       'http://example.com/a/'
                         || CAST(doc_id // 4 AS VARCHAR)
                     WHEN doc_id % 4 = 2 THEN
                       'https://Example.com:443/b/'
                         || CAST(doc_id // 4 AS VARCHAR)
                         || '?utm_source=x&id='
                         || CAST(doc_id // 4 AS VARCHAR) || '#frag'
                     ELSE
                       'https://example.com/b/'
                         || CAST(doc_id // 4 AS VARCHAR)
                         || '?id=' || CAST(doc_id // 4 AS VARCHAR)
                   END AS url,
                   TIMESTAMP '2025-01-01 00:00:00'
                     + CAST(doc_id AS INT) * INTERVAL 1 SECOND AS warc_ts
            FROM documents),
        parts AS (
            SELECT lower(regexp_extract(
                       regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1),
                       '^([^:]*)', 1)) AS host,
                   lower(regexp_extract(url, '^([^:/?#]+)://', 1))
                       AS scheme,
                   regexp_extract(
                       regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1),
                       ':([0-9]+)$', 1) AS port,
                   regexp_extract(
                       regexp_extract(url,
                                      '^[^:/?#]+://[^/?#]*([^#]*)', 1),
                       '^([^?]*)', 1) AS path,
                   regexp_extract(
                       regexp_extract(url,
                                      '^[^:/?#]+://[^/?#]*([^#]*)', 1),
                       '\?(.*)$', 1) AS query,
                   warc_ts
            FROM pages),
        canon AS (
            SELECT host, warc_ts,
                   scheme || '://' || host
                   || CASE WHEN port = ''
                             OR (scheme = 'http' AND port = '80')
                             OR (scheme = 'https' AND port = '443')
                           THEN '' ELSE ':' || port END
                   || CASE WHEN regexp_replace(path, '/+$', '') = ''
                           THEN '/'
                           ELSE regexp_replace(path, '/+$', '') END
                   || CASE WHEN COALESCE(array_to_string(
                               list_filter(string_split(query, '&'),
                                   p -> p <> ''
                                        AND NOT starts_with(p, 'utm_')),
                               '&'), '') = ''
                           THEN ''
                           ELSE '?' || array_to_string(
                               list_filter(string_split(query, '&'),
                                   p -> p <> ''
                                        AND NOT starts_with(p, 'utm_')),
                               '&') END AS canonical_url
            FROM parts)
        SELECT host, count(*) AS n_captures,
               count(DISTINCT canonical_url) AS n_pages,
               min(warc_ts) AS first_ts,
               max(warc_ts) AS last_ts
        FROM canon GROUP BY host ORDER BY host
    """,
    "lang_guess": """
        WITH t AS (
            SELECT doc_id, lang,
                   ' ' || lower(text) || ' ' AS padded FROM documents),
        hits AS (
            SELECT doc_id, lang,
                   CAST((length(padded)
                         - length(replace(padded, ' the ', ''))) / 5
                        AS BIGINT) AS en_hits,
                   CAST((length(padded)
                         - length(replace(padded, ' der ', ''))) / 5
                        AS BIGINT) AS de_hits,
                   CAST((length(padded)
                         - length(replace(padded, ' le ', ''))) / 4
                        AS BIGINT) AS fr_hits,
                   CAST((length(padded)
                         - length(replace(padded, ' el ', ''))) / 4
                        AS BIGINT) AS es_hits,
                   CAST((length(padded)
                         - length(replace(padded, ' তথ্য ', ''))) / 6
                        AS BIGINT) AS bn_hits
            FROM t)
        SELECT doc_id, lang, en_hits, de_hits, fr_hits, es_hits, bn_hits,
               CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits,
                                  bn_hits) = 0 THEN 'und'
                    WHEN en_hits = greatest(en_hits, de_hits, fr_hits,
                                            es_hits, bn_hits) THEN 'en'
                    WHEN de_hits = greatest(en_hits, de_hits, fr_hits,
                                            es_hits, bn_hits) THEN 'de'
                    WHEN fr_hits = greatest(en_hits, de_hits, fr_hits,
                                            es_hits, bn_hits) THEN 'fr'
                    WHEN es_hits = greatest(en_hits, de_hits, fr_hits,
                                            es_hits, bn_hits) THEN 'es'
                    ELSE 'bn' END AS lang_guess
        FROM hits ORDER BY doc_id
    """,
    # -- release feed (deterministic synthetic feed; twin of
    # operators.releases.synth_feed — every field is a pure function of
    # the row index i) ------------------------------------------------------
    "latest_release": """
        WITH feed AS (
            SELECT i,
                   concat('v', CAST(i % 4 AS VARCHAR), '.',
                          CAST((i * 7) % 10 AS VARCHAR), '.',
                          CAST((i * 3) % 8 AS VARCHAR)) AS tag_name,
                   TIMESTAMP '2025-01-01 00:00:00'
                       + CAST(i AS INT) * INTERVAL 1 DAY AS published_at,
                   (i % 11 = 0) AS draft,
                   (i % 7 = 0) AS prerelease,
                   (i % 5 = 0) AS critical
            FROM range(24) t(i))
        SELECT tag_name,
               strftime(published_at, '%Y-%m-%d %H:%M:%S') AS published_at,
               concat('TextExtract-', tag_name, '.exe') AS asset_name,
               critical AS force_update
        FROM feed
        WHERE NOT draft AND NOT prerelease
        ORDER BY (i % 4) DESC, ((i * 7) % 10) DESC, ((i * 3) % 8) DESC,
                 published_at DESC
        LIMIT 1
    """,
    # ngram_jaccard_pairs / minhash_recall / neardup_clusters are built
    # from the shared _SHINGLE_CTE fragment below (appended after this
    # dict literal) so the three twins cannot drift on the shingle
    # definition.
    # -- multimodal plumbing: sha/size twins (no blob byte access in this
    # DuckDB build, so entropy is pytest-only) ------------------------------
    "media_features": """
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               substr(sha256(text), 1, 16) AS content_sha,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents ORDER BY media_id
    """,
    "frame_sample": """
        WITH d AS (
            SELECT doc_id AS media_id, text,
                   octet_length(encode(text)) AS nb
            FROM documents
            WHERE octet_length(encode(text)) = length(text)
              AND octet_length(encode(text)) >= 4),
        f AS (
            SELECT media_id, CAST(i AS BIGINT) AS frame_idx,
                   CAST((nb // 4) * i AS BIGINT) AS byte_offset,
                   substr(text, CAST((nb // 4) * i + 1 AS INT),
                          CAST(nb // 4 AS INT)) AS chunk,
                   CAST(nb // 4 AS BIGINT) AS frame_bytes
            FROM d, (SELECT unnest(range(0, 4)) AS i) t)
        SELECT media_id, frame_idx, byte_offset,
               substr(sha256(chunk), 1, 16) AS frame_sha, frame_bytes
        FROM f ORDER BY media_id, frame_idx
    """,
    # -- the extraction pipeline: full byte-identity text oracle (the
    # driver's pages are documents.text in a fixed HTML chrome; extraction
    # returns exactly trim(text) as one <p> block). Whitespace-only docs
    # are guarded: they extract to no block => status 'empty', 0 spans ----
    "extract_docs": """
        SELECT concat('doc://', CAST(doc_id AS VARCHAR)) AS url,
               CASE WHEN length(trim(text)) = 0 THEN 'empty'
                    ELSE 'ok' END AS status,
               'html' AS fmt,
               trim(text) AS text,
               CAST(length(trim(text)) AS INT) AS text_len,
               CASE WHEN length(trim(text)) = 0 THEN 0 ELSE 1 END
                   AS n_spans
        FROM documents ORDER BY url
    """,
    # -- the curation journey (extract -> quality -> dedup -> decision):
    # composes the extract_docs chrome twin (extracted text = trim(text)),
    # the quality_score label CASE (same thresholds), and a min-url
    # winner group; planted copies (negative-range ids, disjoint from
    # any corpus id) make dedup non-vacuous -------------------------------
    "curate_docs": """
        WITH all_docs AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT - doc_id - 100000, text FROM documents
            WHERE doc_id < 10),
        e AS (
            SELECT concat('doc://', CAST(doc_id AS VARCHAR)) AS url,
                   trim(text) AS t,
                   CASE WHEN length(trim(text)) = 0 THEN 'empty'
                        ELSE 'ok' END AS status
            FROM all_docs),
        el AS (
            SELECT *, list_filter(list_transform(string_split(t, chr(10)),
                                                 x -> trim(x)),
                                  x -> length(x) > 0) AS lines
            FROM e),
        q AS (
            SELECT url, t, status,
                   CASE WHEN status <> 'ok' THEN '-'
                        WHEN length(t) < 50 THEN 'too_short'
                        WHEN (length(t) - length(regexp_replace(
                                  t, '[0-9]', '', 'g'))) / length(t) > 0.3
                            THEN 'too_numeric'
                        WHEN (CASE WHEN len(lines) > 0
                                   THEN CAST(len(lines)
                                             - len(list_distinct(lines))
                                         AS DOUBLE) / len(lines)
                                   ELSE 0.0 END) > 0.3 THEN 'repetitive'
                        WHEN (length(t) - length(replace(t, ' ', '')))
                             / length(t) < 0.05 THEN 'no_spaces'
                        ELSE 'ok' END AS quality
            FROM el),
        w AS (
            SELECT md5(t) AS h, min(url) AS keeper FROM q
            WHERE status = 'ok' AND quality = 'ok' GROUP BY md5(t))
        SELECT q.url, q.status, q.quality,
               CASE WHEN q.status <> 'ok' THEN 'drop:extract'
                    WHEN q.quality <> 'ok' THEN 'drop:quality'
                    WHEN q.url <> w.keeper THEN 'drop:dup'
                    ELSE 'keep' END AS decision,
               CAST(length(q.t) AS INT) AS text_len,
               q.t AS text
        FROM q LEFT JOIN w ON md5(q.t) = w.h
        ORDER BY url
    """,
    # -- curation v2 (twin of pipeline.curation_decisions_neardup via
    # __spark_entry__._curate_neardup): the curate_docs journey plus a
    # near-dup stage over the keep survivors — word-3-shingle jaccard
    # >= 0.6 pair graph closed by recursive CTE, min-url cluster keeper.
    # Word shingles ONLY: the upstream no_spaces quality gate guarantees
    # every scored doc is space-segmented (see the operator docstring).
    # Exact plants (-100000 - doc_id, docs 0-9) exercise stage 1; near
    # plants (-200000 - doc_id, docs 0-19, one appended word) exercise
    # stage 2; negative-range ids stay disjoint from any corpus id ----
    "curate_neardup": r"""
        WITH RECURSIVE all_docs AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT - doc_id - 100000, text FROM documents
            WHERE doc_id < 10
            UNION ALL
            SELECT - doc_id - 200000, text || ' postscriptum'
            FROM documents WHERE doc_id < 20),
        e AS (
            SELECT concat('doc://', CAST(doc_id AS VARCHAR)) AS url,
                   trim(text) AS t,
                   CASE WHEN length(trim(text)) = 0 THEN 'empty'
                        ELSE 'ok' END AS status
            FROM all_docs),
        el AS (
            SELECT *, list_filter(list_transform(string_split(t, chr(10)),
                                                 x -> trim(x)),
                                  x -> length(x) > 0) AS lines
            FROM e),
        q AS (
            SELECT url, t, status,
                   CASE WHEN status <> 'ok' THEN '-'
                        WHEN length(t) < 50 THEN 'too_short'
                        WHEN (length(t) - length(regexp_replace(
                                  t, '[0-9]', '', 'g'))) / length(t) > 0.3
                            THEN 'too_numeric'
                        WHEN (CASE WHEN len(lines) > 0
                                   THEN CAST(len(lines)
                                             - len(list_distinct(lines))
                                         AS DOUBLE) / len(lines)
                                   ELSE 0.0 END) > 0.3 THEN 'repetitive'
                        WHEN (length(t) - length(replace(t, ' ', '')))
                             / length(t) < 0.05 THEN 'no_spaces'
                        ELSE 'ok' END AS quality
            FROM el),
        w AS (
            SELECT md5(t) AS h, min(url) AS keeper FROM q
            WHERE status = 'ok' AND quality = 'ok' GROUP BY md5(t)),
        d1 AS (
            SELECT q.url, q.status, q.quality, q.t,
                   CASE WHEN q.status <> 'ok' THEN 'drop:extract'
                        WHEN q.quality <> 'ok' THEN 'drop:quality'
                        WHEN q.url <> w.keeper THEN 'drop:dup'
                        ELSE 'keep' END AS decision
            FROM q LEFT JOIN w ON md5(q.t) = w.h),
        kt AS (
            SELECT url,
                   string_split_regex(trim(lower(t)), '\s+') AS toks
            FROM d1 WHERE decision = 'keep'),
        s AS (
            SELECT url,
                   list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> concat_ws(' ', toks[CAST(i AS INT)],
                                      toks[CAST(i AS INT) + 1],
                                      toks[CAST(i AS INT) + 2]))) AS sh
            FROM kt WHERE len(toks) >= 3),
        p AS (
            SELECT a.url AS a_id, b.url AS b_id
            FROM s a JOIN s b ON a.url < b.url
            WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6),
        sym AS (
            SELECT a_id AS src, b_id AS dst FROM p
            UNION
            SELECT b_id, a_id FROM p),
        reach(src, dst) AS (
            SELECT src, dst FROM sym
            UNION
            SELECT r.src, s2.dst FROM reach r JOIN sym s2 ON r.dst = s2.src),
        comp AS (
            SELECT src AS url, least(src, min(dst)) AS cluster
            FROM reach GROUP BY src)
        SELECT d1.url, d1.status, d1.quality,
               CASE WHEN d1.decision = 'keep' AND comp.url IS NOT NULL
                         AND d1.url <> comp.cluster
                    THEN 'drop:neardup' ELSE d1.decision END AS decision,
               CAST(length(d1.t) AS INT) AS text_len
        FROM d1 LEFT JOIN comp ON d1.url = comp.url
        ORDER BY d1.url
    """,
    # -- non-HTML dispatch branches under the same hard gate: doc_id%3==0
    # pages are synthesized FlateDecode PDFs carrying two known text lines
    # ('Document <id>' / 'flate stream body' — datagen.build_pdf), the
    # rest raw plain-text payloads (extraction = whitespace strip) --------
    "extract_mixed_docs": """
        WITH e AS (
            SELECT doc_id,
                   (doc_id % 3 = 0) AS is_pdf,
                   CASE WHEN doc_id % 3 = 0
                        THEN concat('Document ', CAST(doc_id AS VARCHAR),
                                    chr(10), 'flate stream body')
                        ELSE regexp_replace(
                                 trim(text, ' ' || chr(9) || chr(10)
                                      || chr(13)),
                                 '[ \\t]+\\n', chr(10), 'g')
                        END AS etext
            FROM documents)
        SELECT concat('docm://', CAST(doc_id AS VARCHAR)) AS url,
               CASE WHEN NOT is_pdf AND length(etext) = 0 THEN 'empty'
                    ELSE 'ok' END AS status,
               CASE WHEN is_pdf THEN 'pdf' ELSE 'text' END AS fmt,
               etext AS text,
               CAST(length(etext) AS INT) AS text_len,
               CASE WHEN is_pdf THEN 2
                    WHEN length(etext) = 0 THEN 0 ELSE 1 END AS n_spans
        FROM e ORDER BY url
    """,
    # -- the production input path end-to-end: WARC archives -> read_warc
    # -> extraction pipeline. Same chrome trick as extract_docs (archived
    # page = documents.text in the fixed HTML chrome => extracted text is
    # byte-exactly trim(text)); a bug in gunzip / record parse / HTTP body
    # split / extraction diverges here --------------------------------------
    "extract_warc_docs": """
        SELECT concat('warcd://', CAST(doc_id AS VARCHAR)) AS url,
               CASE WHEN length(trim(text)) = 0 THEN 'empty'
                    ELSE 'ok' END AS status,
               'html' AS fmt,
               trim(text) AS text,
               CAST(length(trim(text)) AS INT) AS text_len,
               CASE WHEN length(trim(text)) = 0 THEN 0 ELSE 1 END
                   AS n_spans
        FROM documents ORDER BY url
    """,
    # -- WARC source round trip: every parsed field recomputed from the
    # documents table (url/ts from id arithmetic, body length + md5 digest
    # from the text bytes) ---------------------------------------------------
    "warc_roundtrip": """
        SELECT doc_id,
               concat('warc://', CAST(doc_id AS VARCHAR)) AS url,
               TIMESTAMP '2025-01-01 00:00:00'
                   + CAST(doc_id AS INT) * INTERVAL 1 SECOND AS warc_ts,
               CAST(octet_length(encode(text)) AS BIGINT) AS body_len,
               md5(text) AS digest
        FROM documents ORDER BY doc_id
    """,
    # -- derived-metric twins for the hash-sketch paths: see the
    # _SHINGLE_CTE-composed entries appended after this dict ---------------
    # TWO-SIDED simhash hamming-0 twin: a word-path simhash signature is a
    # pure function of the TOKEN MULTISET (bit votes sum over tokens), so
    # doc-vs-plant hamming-0 <=> equal sorted-token keys. Joining on the
    # sorted multiset (not md5(text), the r3 one-sided form) makes the
    # predicted set EXACT — reordered-token / whitespace-delta matches are
    # expected on both sides, so a dropped AND a spurious pair both turn
    # the row red. Spaceless (char-trigram-path) docs are excluded from
    # the a-side exactly as the plants are from the b-side: their votes
    # come from a different token alphabet, so a word-key match would not
    # imply signature equality (see __spark_entry__._simhash_exact_pairs)
    "simhash_exact_pairs": """
        WITH flags AS (
            SELECT doc_id, trim(lower(text)) AS t,
                   length(trim(lower(text))) AS len,
                   length(trim(lower(text)))
                     - length(regexp_replace(trim(lower(text)),
                                             '\\s', '', 'g')) AS ws
            FROM documents),
        wordpath AS (
            SELECT doc_id, len,
                   list_sort(string_split_regex(t, '\\s+')) AS key
            FROM flags
            WHERE NOT (len > 0 AND ws * 1.0 / len < 0.05)),
        plants AS (
            -- negative-range plant ids (disjoint from any corpus id);
            -- pairs order a_id < b_id so the plant is the a side
            SELECT - doc_id - 100000 AS a_id, key FROM wordpath
            WHERE doc_id < 10 AND len > 0)
        SELECT p.a_id AS a_id, w.doc_id AS b_id,
               CAST(0 AS INT) AS hamming
        FROM wordpath w JOIN plants p ON w.key = p.key
        ORDER BY a_id, b_id
    """,
    # -- real BMP/WAV/PNG codec round trip: every decoded field is a pure
    # function of media_id (synth params), so the oracle recomputes the
    # whole synth->parse loop from id arithmetic; PNG pixel fidelity (all
    # five filter types) is pytest-asserted --------------------------------
    "media_decode": """
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 3 = 0 THEN 'bmp'
                    WHEN doc_id % 3 = 1 THEN 'wav'
                    ELSE 'png' END AS kind,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 1 + doc_id % 31
                         WHEN doc_id % 3 = 2 THEN 1 + doc_id % 29
                         ELSE 0 END AS INT) AS width,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 1 + doc_id % 17
                         WHEN doc_id % 3 = 2 THEN 1 + doc_id % 13
                         ELSE 0 END AS INT) AS height,
               CAST(CASE WHEN doc_id % 3 = 1 THEN 1 + doc_id % 2
                         WHEN doc_id % 3 = 2 THEN 3
                         ELSE 0 END AS INT) AS channels,
               CAST(CASE WHEN doc_id % 3 = 1 THEN 8000 + doc_id % 100
                         ELSE 0 END AS INT) AS sample_rate,
               CAST(CASE WHEN doc_id % 3 = 1 THEN 16 + doc_id % 50
                         ELSE 0 END AS BIGINT) AS n_samples
        FROM documents ORDER BY media_id
    """,
    # image resize twin: the synthetic pixel is (x*7+y*13+c*31) mod 256
    # and nearest-neighbor maps out (ox,oy) -> src (ox*w//8, oy*h//6), so
    # the position-weighted checksum of the resized plane is pure id
    # arithmetic — independently re-derived from the Python
    # decode->unfilter->resize path (twin of multimodal.resize_media)
    "resize_media": """
        WITH p AS (
            SELECT doc_id AS media_id,
                   CAST(1 + doc_id % 29 AS INT) AS src_w,
                   CAST(1 + doc_id % 13 AS INT) AS src_h
            FROM documents),
        px AS (
            SELECT media_id, src_w, src_h,
                   ((((ox * src_w) // 8) * 7
                     + ((oy * src_h) // 6) * 13 + c * 31) % 256) AS v,
                   (oy * 8 + ox) * 3 + c + 1 AS idx
            FROM p,
                 LATERAL unnest(range(0, 6)) AS a(oy),
                 LATERAL unnest(range(0, 8)) AS b(ox),
                 LATERAL unnest(range(0, 3)) AS d(c))
        SELECT media_id, src_w, src_h,
               CAST(8 AS INT) AS out_w, CAST(6 AS INT) AS out_h,
               CAST(sum(v) AS BIGINT) AS pixel_sum,
               CAST(sum(v * idx) AS BIGINT) AS weighted_sum
        FROM px GROUP BY media_id, src_w, src_h ORDER BY media_id
    """,
    # sample-level audio features: the WAV byte stream is closed-form
    # (byte j = (j*31) mod 256 — multimodal.build_wav), so the int16 LE
    # reconstruction and RMS/ZCR/peak are re-derived from id arithmetic +
    # generate_series, independently of the Python decode path
    "audio_features": """
        WITH p AS (
            SELECT doc_id AS media_id,
                   CAST(1 + doc_id % 2 AS INT) AS channels,
                   CAST(16 + doc_id % 50 AS INT) AS n_samples,
                   (16 + doc_id % 50) * (1 + doc_id % 2) AS total
            FROM documents),
        s AS (
            SELECT media_id, channels, n_samples, total, k,
                   ((2 * k * 31) % 256) + 256 * (((2 * k + 1) * 31) % 256)
                       AS v
            FROM p, LATERAL unnest(range(0, total)) AS u(k)),
        s2 AS (
            SELECT media_id, channels, n_samples, total, k,
                   CAST(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END
                        AS DOUBLE) AS sv
            FROM s),
        l AS (
            SELECT media_id, channels, n_samples, total, sv,
                   lead(sv) OVER (PARTITION BY media_id ORDER BY k) AS nxt
            FROM s2)
        SELECT media_id, channels, n_samples,
               round(sqrt(avg(sv * sv)), 4) AS rms,
               round(CAST(sum(CASE WHEN sv * nxt < 0 THEN 1 ELSE 0 END)
                          AS DOUBLE) / (max(total) - 1), 4) AS zcr,
               CAST(max(abs(sv)) AS INT) AS peak
        FROM l GROUP BY media_id, channels, n_samples ORDER BY media_id
    """,
    # -- similarity ---------------------------------------------------------
    # IVF twin: same coarse-quantize (per-label centroid over the
    # deterministic vec_id%4 build sample — twin of
    # similarity.label_centroids) -> nprobe=3 -> exact-cosine-within-
    # cells shape, re-expressed in SQL. 64 = the embeddings table's fixed
    # dim (no lateral unnest in this DuckDB).
    "ivf_topk": """
        WITH emb AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
        dims AS (SELECT unnest(range(1, 65)) AS i),
        cents AS (
            SELECT label, i, avg(v[CAST(i AS INT)]) AS c
            FROM emb, dims WHERE vec_id % 4 = 0 GROUP BY label, i),
        cvec AS (SELECT label, list(c ORDER BY i) AS cv
                 FROM cents GROUP BY label),
        q AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
        probed AS (
            SELECT label FROM cvec, q
            ORDER BY list_cosine_similarity(cv, qv) DESC LIMIT 3)
        SELECT e.vec_id, e.label,
               round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
        FROM emb e JOIN probed USING (label), q
        WHERE e.vec_id <> 0
        ORDER BY cosine DESC, e.vec_id ASC LIMIT 10
    """,
    "ann_lsh_pairs": """
        WITH all_v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
            UNION ALL
            SELECT - vec_id - 100000,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> x * 1.0009765625)
            FROM embeddings WHERE vec_id < 10)
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               round(list_cosine_similarity(a.v, b.v), 4) AS cosine
        FROM all_v a JOIN all_v b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= 0.9
        ORDER BY cosine DESC, a_id, b_id
    """,
    # SemDeDup decision twin: the same planted all-pairs cosine graph as
    # ann_lsh_pairs, closed transitively with a recursive CTE; keep =
    # (vec_id = component min) — equality proves BOTH the pair stage and
    # the Hash-Min component iteration
    "embedding_dedup": """
        WITH RECURSIVE all_v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
            UNION ALL
            SELECT - vec_id - 100000,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> x * 1.0009765625)
            FROM embeddings WHERE vec_id < 10),
        p AS (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id
            FROM all_v a JOIN all_v b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.9),
        sym AS (
            SELECT a_id AS src, b_id AS dst FROM p
            UNION
            SELECT b_id, a_id FROM p),
        reach(src, dst) AS (
            SELECT src, dst FROM sym
            UNION
            SELECT r.src, s2.dst FROM reach r JOIN sym s2 ON r.dst = s2.src)
        SELECT src AS vec_id,
               least(src, min(dst)) AS cluster_id,
               (src = least(src, min(dst))) AS keep
        FROM reach GROUP BY src ORDER BY vec_id
    """,
    "cosine_topk": """
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q_vec
                   FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id, e.label,
               round(list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), q.q_vec), 4) AS cosine
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY cosine DESC, e.vec_id ASC LIMIT 20
    """,
}


# Shared shingle fragment (twin of sketch.with_shingles): the three dedup
# oracles below are composed from it so they cannot drift on the shingle
# definition. Script-aware like the operator: word 3-shingles for
# space-segmented text, char 5-grams when whitespace density < 0.05 flags
# unsegmented script (CJK). `{thr}` is the exact-jaccard threshold.
_SHINGLE_CTE = r"""
        WITH {recursive} t AS (
            SELECT doc_id,
                   trim(lower(text)) AS norm,
                   string_split_regex(trim(lower(text)), '\s+') AS toks,
                   length(trim(lower(text))) > 0
                   AND CAST(length(trim(lower(text)))
                            - length(regexp_replace(trim(lower(text)),
                                                    '\s', '', 'g'))
                        AS DOUBLE) / length(trim(lower(text))) < 0.05
                       AS spaceless
            FROM documents
        ), te AS (
            SELECT * FROM t
            WHERE (spaceless AND length(norm) >= 5)
               OR (NOT spaceless AND len(toks) >= 3)
        ), s AS (
            SELECT doc_id,
                   CASE WHEN spaceless THEN
                       list_distinct(list_transform(
                           range(1, length(norm) - 3),
                           i -> substr(norm, CAST(i AS INT), 5)))
                   ELSE
                       list_distinct(list_transform(range(1, len(toks) - 1),
                           i -> concat_ws(' ', toks[CAST(i AS INT)],
                                          toks[CAST(i AS INT) + 1],
                                          toks[CAST(i AS INT) + 2])))
                   END AS sh
            FROM te
        ), p AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.sh, b.sh))), 4)
                       AS jaccard
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.sh, b.sh))) >= {thr})
"""

# dedup verify pass: exact all-pairs jaccard (the Spark side is
# LSH-candidates + exact verify; at driver scale every pair >= the
# threshold is high-jaccard and banding recall is 1, so the two agree
# exactly — pytest additionally asserts the per-pair values)
ORACLES["ngram_jaccard_pairs"] = _SHINGLE_CTE.format(
    recursive="", thr="0.4") + """
        SELECT a_id, b_id, jaccard FROM p
        ORDER BY jaccard DESC, a_id, b_id
    """

# minhash banding recall vs exact ground truth: stats of the pairs the
# LSH+verify pipeline keeps at exact jaccard >= 0.5 must equal the same
# stats over TRUE all-pairs jaccard — a dropped candidate diverges here
ORACLES["minhash_recall"] = _SHINGLE_CTE.format(
    recursive="", thr="0.5") + """
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               min(jaccard) AS min_jaccard,
               max(jaccard) AS max_jaccard,
               round(avg(jaccard), 4) AS mean_jaccard
        FROM p
    """

# connected components over the same pair graph (the cluster-formation
# step): the Spark side is iterative Hash-Min label propagation; the twin
# computes the transitive closure with a recursive CTE and takes the min
# id per component — equality proves the iteration converged to the true
# components
ORACLES["neardup_clusters"] = _SHINGLE_CTE.format(
    recursive="RECURSIVE", thr="0.5") + """
        , sym AS (
            SELECT a_id AS src, b_id AS dst FROM p
            UNION
            SELECT b_id, a_id FROM p
        ), reach(src, dst) AS (
            SELECT src, dst FROM sym
            UNION
            SELECT r.src, s2.dst FROM reach r JOIN sym s2 ON r.dst = s2.src
        )
        SELECT src AS doc_id,
               least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src ORDER BY doc_id
    """


def _lang_trigram_oracle() -> str:
    """The lang_trigram twin is GENERATED from textdata.TRIGRAM_PROFILE so
    the Spark operator and the DuckDB oracle can never drift on the
    profile contents or the tie-break priority order."""
    from .textdata import _PROFILE_LANGS, TRIGRAM_PROFILE

    values = ",\n            ".join(
        f"('{t}', '{lang}')"
        for lang in _PROFILE_LANGS for t in TRIGRAM_PROFILE[lang])
    sums = ",\n               ".join(
        f"CAST(sum(CASE WHEN plang = '{lang}' THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS {lang}_tri"
        for lang in _PROFILE_LANGS)
    cols = ", ".join(f"{lang}_tri" for lang in _PROFILE_LANGS)
    great = "greatest(" + ", ".join(
        f"{lang}_tri" for lang in _PROFILE_LANGS) + ")"
    whens = "\n               ".join(
        f"WHEN {lang}_tri = {great} THEN '{lang}'"
        for lang in _PROFILE_LANGS)
    return f"""
        WITH docs_t AS (
            SELECT doc_id, lang, ' ' || lower(text) || ' ' AS pad
            FROM documents WHERE length(text) > 0),
        tri AS (
            SELECT doc_id, lang,
                   substr(pad, CAST(i AS INT), 3) AS tri
            FROM docs_t, LATERAL unnest(range(1, length(pad) - 1)) AS u(i)),
        prof(tri, plang) AS (VALUES {values}),
        h AS (
            SELECT doc_id, lang,
               {sums}
            FROM tri LEFT JOIN prof USING (tri)
            GROUP BY doc_id, lang)
        SELECT doc_id, lang, {cols},
               CASE WHEN {great} = 0 THEN 'und'
               {whens}
               END AS lang_guess
        FROM h ORDER BY doc_id
    """


ORACLES["lang_trigram"] = _lang_trigram_oracle()


def _mixture_sample_oracle() -> str:
    """GENERATED from textdata.MIXTURE_RATES (like the lang_trigram twin)
    so the mixture config cannot drift between engines; the two-hex-digit
    bucket arithmetic mirrors the Spark side exactly."""
    from .spark_text import HEX_DIGITS
    from .textdata import MIXTURE_DEFAULT_RATE, MIXTURE_RATES

    whens = "\n                        ".join(
        f"WHEN source = '{s}' THEN {r}"
        for s, r in MIXTURE_RATES.items())
    return f"""
        WITH b AS (
            SELECT source,
                   CASE {whens}
                        ELSE {MIXTURE_DEFAULT_RATE} END AS rate,
                   (instr('{HEX_DIGITS}',
                          substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
                   * 16
                   + (instr('{HEX_DIGITS}',
                            substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
                       AS bucket
            FROM documents)
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN bucket < rate THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_sampled,
               CAST(max(rate) AS INT) AS rate_per256
        FROM b GROUP BY source ORDER BY source
    """


ORACLES["mixture_sample"] = _mixture_sample_oracle()


def _pii_scrub_oracle() -> str:
    """GENERATED from textdata.PII_PATTERNS (same planted construction,
    same ordered sequential replace) — pattern table drift between the
    engines is impossible. The Luhn position logic comes from the SAME
    textdata.luhn_doubled the Spark columns use: the check digit of the
    planted card is derived here in SQL, and cc_luhn_ok re-validates
    the extracted card with the full-16 sum."""
    from .textdata import _CC_PATTERN, PII_PATTERNS, luhn_doubled

    def luhn_sum(col, length):
        terms = []
        for i in range(1, length + 1):
            d = f"CAST(substr({col}, {i}, 1) AS INT)"
            if luhn_doubled(i):
                terms.append(
                    f"(CASE WHEN 2*{d} > 9 THEN 2*{d} - 9"
                    f" ELSE 2*{d} END)")
            else:
                terms.append(d)
        return "(" + " + ".join(terms) + ")"

    planted = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com or 10.0.'"
        " || CAST(doc_id % 256 AS VARCHAR) || '.'"
        " || CAST((doc_id * 7) % 256 AS VARCHAR)"
        " || ' card ' || cc || ' iban ' || iban"
        " || ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')"
        " || '-' || lpad(CAST((doc_id * 3) % 100 AS VARCHAR), 2, '0')"
        " || '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')"
        " || ' ni QQ' || lpad(CAST(doc_id % 1000000 AS VARCHAR), 6, '0')"
        " || 'C tel (' || CAST(200 + doc_id % 700 AS VARCHAR) || ') '"
        " || lpad(CAST((doc_id * 11) % 1000 AS VARCHAR), 3, '0')"
        " || '-' || lpad(CAST((doc_id * 17) % 10000 AS VARCHAR), 4, '0')"
        " || ' call +1555' || lpad(CAST(doc_id AS VARCHAR), 7, '0')")
    counts = ",\n               ".join(
        f"CAST(len(regexp_extract_all(t, '{pat}')) AS INT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS)
    scrub = "t"
    for _, pat, repl in PII_PATTERNS:
        scrub = f"regexp_replace({scrub}, '{pat}', '{repl}', 'g')"
    return f"""
        WITH b AS (
            SELECT doc_id, text,
                   '4242' || lpad(CAST(doc_id % 100000000 AS VARCHAR),
                                  8, '0') || '424' AS cc_base,
                   'DE' || lpad(CAST((doc_id * 13) % 100 AS VARCHAR),
                                2, '0') || 'BANK'
                        || lpad(CAST(doc_id % 10000000000 AS VARCHAR),
                                10, '0') AS iban
            FROM documents),
        c AS (
            SELECT doc_id, text, iban,
                   cc_base || CAST((10 - ({luhn_sum('cc_base', 15)} % 10))
                                   % 10 AS VARCHAR) AS cc
            FROM b),
        p AS (SELECT doc_id, {planted} AS t FROM c),
        e AS (SELECT doc_id, t,
                     regexp_replace(regexp_extract(t, '{_CC_PATTERN}'),
                                    '[ -]', '', 'g') AS cc_m
              FROM p)
        SELECT doc_id,
               {counts},
               ({luhn_sum('cc_m', 16)} % 10 = 0) AS cc_luhn_ok,
               {scrub} AS clean_text
        FROM e ORDER BY doc_id
    """


ORACLES["pii_scrub"] = _pii_scrub_oracle()


def _span_dedup_oracle() -> str:
    """GENERATED from textdata's SPAN_K/SPAN_STRIDE (twin of
    span_dedup_stats): same planted copies/boilerplate tails, same
    stride windows, same two-field lexicographic (doc_id, off) winner
    (DuckDB ROW min == Spark struct min)."""
    from .textdata import SPAN_K as K, SPAN_STRIDE as S

    boiler = (" this website uses cookies to improve your experience"
              " and by continuing you accept our terms and conditions"
              " in full")
    return f"""
        WITH all_docs AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT - doc_id - 300000, text FROM documents
            WHERE doc_id < 10
            UNION ALL
            SELECT - doc_id - 400000, text || '{boiler}'
            FROM documents WHERE doc_id % 17 = 4),
        w AS (
            SELECT doc_id,
                   CAST(u.i * {S} AS BIGINT) AS off,
                   md5(substr(text, CAST(u.i * {S} + 1 AS INT), {K}))
                       AS h
            FROM all_docs,
                 LATERAL unnest(range(0,
                     CAST(floor((length(text) - {K}) / {S}) AS INT) + 1))
                     AS u(i)
            WHERE length(text) >= {K}),
        st AS (
            SELECT h, count(*) AS c,
                   min(ROW(doc_id, off)) AS win
            FROM w GROUP BY h),
        f AS (
            SELECT w.doc_id,
                   (st.c > 1 AND ROW(w.doc_id, w.off) <> st.win)
                       AS dup
            FROM w JOIN st USING (h)),
        agg AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_windows,
                   CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_dup_windows
            FROM f GROUP BY doc_id)
        -- one verdict row per input doc: short docs report zeros
        SELECT d.doc_id,
               CAST(COALESCE(a.n_windows, 0) AS BIGINT) AS n_windows,
               CAST(COALESCE(a.n_dup_windows, 0) AS BIGINT)
                   AS n_dup_windows,
               CASE WHEN COALESCE(a.n_windows, 0) > 0
                    THEN round(CAST(a.n_dup_windows AS DOUBLE)
                               / a.n_windows, 4)
                    ELSE 0.0 END AS dup_window_frac
        FROM all_docs d LEFT JOIN agg a ON d.doc_id = a.doc_id
        ORDER BY d.doc_id
    """


ORACLES["span_dedup_stats"] = _span_dedup_oracle()


def _split_report_oracle() -> str:
    """GENERATED from textdata's split thresholds (twin of
    split_report): same md5 bucket arithmetic and cutoffs."""
    from .spark_text import HEX_DIGITS
    from .textdata import SPLIT_TRAIN_MAX, SPLIT_VAL_MAX

    bucket = (f"(instr('{HEX_DIGITS}',"
              f" substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16"
              f" + (instr('{HEX_DIGITS}',"
              f" substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)")
    return f"""
        WITH s AS (
            SELECT doc_id, length(text) AS len,
                   CASE WHEN {bucket} < {SPLIT_TRAIN_MAX} THEN 'train'
                        WHEN {bucket} < {SPLIT_VAL_MAX} THEN 'val'
                        ELSE 'test' END AS split
            FROM documents)
        SELECT split,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len) AS BIGINT) AS n_chars
        FROM s GROUP BY split ORDER BY split
    """


ORACLES["split_report"] = _split_report_oracle()


def _temp_mixture_oracle() -> str:
    """GENERATED from textdata.TEMP_ALPHA (twin of temperature_mixture):
    identical count-driven rate formula and md5 bucket arithmetic."""
    from .spark_text import HEX_DIGITS
    from .textdata import TEMP_ALPHA

    exp = 1.0 - TEMP_ALPHA
    return f"""
        WITH c AS (
            SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        t AS (SELECT sum(n) AS nn, min(n) AS nmin FROM c),
        r AS (
            SELECT lang, n,
                   CAST(n AS DOUBLE) / nn AS p,
                   CAST(least(256, floor(256 * power(
                       CAST(nmin AS DOUBLE) / n, {exp}))) AS INT)
                       AS rate256
            FROM c, t),
        d AS (
            SELECT doc_id, lang,
                   (instr('{HEX_DIGITS}', substr(
                        md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                   + (instr('{HEX_DIGITS}', substr(
                        md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS b
            FROM documents)
        SELECT d.lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(max(r.p), 4) AS share,
               max(r.rate256) AS rate_per256,
               CAST(sum(CASE WHEN d.b < r.rate256 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_sampled,
               round(CAST(sum(CASE WHEN d.b < r.rate256
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 4) AS eff_rate
        FROM d JOIN r USING (lang)
        GROUP BY d.lang ORDER BY d.lang
    """


ORACLES["temp_mixture"] = _temp_mixture_oracle()


def _decontam_oracle() -> str:
    """GENERATED from textdata.CONTAM_NGRAM (twin of textdata.decontam):
    same lowercased word n-grams, same %97 eval-set selection."""
    from .textdata import CONTAM_NGRAM as N

    terms = ", ".join(f"toks[CAST(i AS INT) + {k}]" for k in range(N))
    return rf"""
        WITH t AS (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\s+') AS toks
            FROM documents),
        g AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks) - {N - 2}),
                       i -> concat_ws(' ', {terms}))) AS g
            FROM t WHERE len(toks) >= {N}),
        ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 5),
        hits AS (
            SELECT g.doc_id, count(*) AS n
            FROM g JOIN ev USING (g) GROUP BY g.doc_id)
        SELECT d.doc_id,
               CAST(COALESCE(h.n, 0) AS BIGINT) AS n_overlap,
               COALESCE(h.n, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        ORDER BY d.doc_id
    """


ORACLES["decontam"] = _decontam_oracle()


def _curate_full_oracle() -> str:
    """GENERATED composition twin of pipeline.curation_decisions_full
    (via __spark_entry__._curate_full): the curate_neardup journey —
    chrome-strip extraction identity, quality CASE, md5 exact-dedup
    winner, word-3-shingle jaccard pair graph closed by recursive CTE —
    EXTENDED with the three r6 stages: benchmark decontamination (the
    decontam twin's lowercased word-8-gram overlap, eval = the raw
    doc_id%97==5 slice), CCNet perplexity bucketing (the char_lm_ppl
    twin's add-one bigram LM trained on the keep survivors), and the
    md5-bucket split assignment (the split_report twin's arithmetic).
    One verdict row per url; drops carry '-' buckets."""
    from .textdata import (
        CONTAM_NGRAM as N, PPL_HEAD_MAX, PPL_MIDDLE_MAX,
        SPLIT_TRAIN_MAX, SPLIT_VAL_MAX)

    terms = ", ".join(f"toks[CAST(i AS INT) + {k}]" for k in range(N))
    hexpair = ("(instr('0123456789abcdef', substr(md5(url), 1, 1)) - 1)"
               " * 16 + (instr('0123456789abcdef',"
               " substr(md5(url), 2, 1)) - 1)")
    return rf"""
        WITH RECURSIVE all_docs AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT - doc_id - 100000, text FROM documents
            WHERE doc_id < 10
            UNION ALL
            SELECT - doc_id - 200000, text || ' postscriptum'
            FROM documents WHERE doc_id < 20),
        e AS (
            SELECT concat('doc://', CAST(doc_id AS VARCHAR)) AS url,
                   trim(text) AS t,
                   CASE WHEN length(trim(text)) = 0 THEN 'empty'
                        ELSE 'ok' END AS status
            FROM all_docs),
        el AS (
            SELECT *, list_filter(list_transform(string_split(t, chr(10)),
                                                 x -> trim(x)),
                                  x -> length(x) > 0) AS lines
            FROM e),
        q AS (
            SELECT url, t, status,
                   CASE WHEN status <> 'ok' THEN '-'
                        WHEN length(t) < 50 THEN 'too_short'
                        WHEN (length(t) - length(regexp_replace(
                                  t, '[0-9]', '', 'g'))) / length(t) > 0.3
                            THEN 'too_numeric'
                        WHEN (CASE WHEN len(lines) > 0
                                   THEN CAST(len(lines)
                                             - len(list_distinct(lines))
                                         AS DOUBLE) / len(lines)
                                   ELSE 0.0 END) > 0.3 THEN 'repetitive'
                        WHEN (length(t) - length(replace(t, ' ', '')))
                             / length(t) < 0.05 THEN 'no_spaces'
                        ELSE 'ok' END AS quality
            FROM el),
        w AS (
            SELECT md5(t) AS h, min(url) AS keeper FROM q
            WHERE status = 'ok' AND quality = 'ok' GROUP BY md5(t)),
        d1 AS (
            SELECT q.url, q.status, q.quality, q.t,
                   CASE WHEN q.status <> 'ok' THEN 'drop:extract'
                        WHEN q.quality <> 'ok' THEN 'drop:quality'
                        WHEN q.url <> w.keeper THEN 'drop:dup'
                        ELSE 'keep' END AS decision
            FROM q LEFT JOIN w ON md5(q.t) = w.h),
        kt AS (
            SELECT url,
                   string_split_regex(trim(lower(t)), '\s+') AS toks
            FROM d1 WHERE decision = 'keep'),
        s AS (
            SELECT url,
                   list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> concat_ws(' ', toks[CAST(i AS INT)],
                                      toks[CAST(i AS INT) + 1],
                                      toks[CAST(i AS INT) + 2]))) AS sh
            FROM kt WHERE len(toks) >= 3),
        p AS (
            SELECT a.url AS a_id, b.url AS b_id
            FROM s a JOIN s b ON a.url < b.url
            WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6),
        sym AS (
            SELECT a_id AS src, b_id AS dst FROM p
            UNION
            SELECT b_id, a_id FROM p),
        reach(src, dst) AS (
            SELECT src, dst FROM sym
            UNION
            SELECT r.src, s2.dst FROM reach r JOIN sym s2 ON r.dst = s2.src),
        comp AS (
            SELECT src AS url, least(src, min(dst)) AS cluster
            FROM reach GROUP BY src),
        d2 AS (
            SELECT d1.url, d1.status, d1.quality, d1.t,
                   CASE WHEN d1.decision = 'keep' AND comp.url IS NOT NULL
                             AND d1.url <> comp.cluster
                        THEN 'drop:neardup' ELSE d1.decision END
                       AS decision
            FROM d1 LEFT JOIN comp ON d1.url = comp.url),
        keeps AS (SELECT url, t FROM d2 WHERE decision = 'keep'),
        -- stage 4: decontamination (word-{N}-gram overlap vs the raw
        -- doc_id%97==5 eval slice)
        kg AS (
            SELECT url, unnest(list_transform(
                       range(1, len(toks) - {N - 2}),
                       i -> concat_ws(' ', {terms}))) AS g
            FROM (SELECT url,
                         string_split_regex(trim(lower(t)), '\s+')
                             AS toks
                  FROM keeps)
            WHERE len(toks) >= {N}),
        ev AS (
            SELECT DISTINCT unnest(list_transform(
                       range(1, len(toks) - {N - 2}),
                       i -> concat_ws(' ', {terms}))) AS g
            FROM (SELECT string_split_regex(trim(lower(text)), '\s+')
                             AS toks
                  FROM documents WHERE doc_id % 97 = 5)
            WHERE len(toks) >= {N}),
        contam AS (
            SELECT DISTINCT kg.url FROM kg JOIN ev USING (g)),
        d3 AS (
            SELECT d2.url, d2.status, d2.quality, d2.t,
                   CASE WHEN d2.decision = 'keep'
                             AND contam.url IS NOT NULL
                        THEN 'drop:contaminated' ELSE d2.decision END
                       AS decision
            FROM d2 LEFT JOIN contam ON d2.url = contam.url),
        -- stage 5: CCNet perplexity over the (pre-decontam) keeps,
        -- LM trained on the keeps themselves as the reference slice
        kd AS (
            SELECT url, ' ' || lower(t) || ' ' AS pad
            FROM keeps WHERE length(t) > 0),
        kbg AS (
            SELECT url, substr(pad, CAST(i AS INT), 2) AS bg
            FROM kd, LATERAL unnest(range(1, length(pad))) AS u(i)),
        bc AS (SELECT bg, count(*) AS bc FROM kbg GROUP BY bg),
        uc AS (
            SELECT substr(bg, 1, 1) AS c1, sum(bc) AS uc
            FROM bc GROUP BY 1),
        v AS (SELECT count(DISTINCT substr(bg, 2, 1)) AS v FROM bc),
        lp AS (
            SELECT k.url,
                   CAST(round(log2((COALESCE(bc.bc, 0) + 1)
                        / (COALESCE(uc.uc, 0) + v.v)) * 1000000, 0)
                        AS BIGINT) AS lpu
            FROM kbg k
            LEFT JOIN bc ON k.bg = bc.bg
            LEFT JOIN uc ON substr(k.bg, 1, 1) = uc.c1
            CROSS JOIN v),
        h AS (SELECT url, -(sum(lpu) / (count(*) * 1000000.0)) AS h
              FROM lp GROUP BY url),
        pb AS (
            SELECT url,
                   CASE WHEN power(2, h) <= {PPL_HEAD_MAX} THEN 'head'
                        WHEN power(2, h) <= {PPL_MIDDLE_MAX}
                            THEN 'middle'
                        ELSE 'tail' END AS ppl_bucket
            FROM h),
        -- stage 6: md5-bucket split assignment over the keep urls
        sp AS (
            SELECT url,
                   CASE WHEN {hexpair} < {SPLIT_TRAIN_MAX} THEN 'train'
                        WHEN {hexpair} < {SPLIT_VAL_MAX} THEN 'val'
                        ELSE 'test' END AS split
            FROM keeps)
        SELECT d3.url, d3.status, d3.quality, d3.decision,
               CASE WHEN d3.decision = 'keep' THEN pb.ppl_bucket
                    ELSE '-' END AS ppl_bucket,
               CASE WHEN d3.decision = 'keep' THEN sp.split
                    ELSE '-' END AS split,
               CAST(length(d3.t) AS INT) AS text_len
        FROM d3
        LEFT JOIN pb ON d3.url = pb.url
        LEFT JOIN sp ON d3.url = sp.url
        ORDER BY d3.url
    """


ORACLES["curate_full"] = _curate_full_oracle()


def _char_lm_ppl_oracle() -> str:
    """GENERATED from textdata's PPL_* constants (twin of
    char_lm_perplexity): same reference slice, same add-one bigram
    model, same fixed CCNet-style cutoffs — the full train+score loop
    re-run in SQL."""
    from .textdata import PPL_HEAD_MAX, PPL_MIDDLE_MAX, PPL_REF_LANG

    return f"""
        WITH scoring AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT - doc_id - 1000000,
                   substr(text, 1, CAST(floor(length(text) / 2) AS INT))
                   || reverse(substr(text,
                          CAST(floor(length(text) / 2) AS INT) + 1,
                          length(text)))
            FROM documents
            UNION ALL
            SELECT - doc_id - 2000000, reverse(text) FROM documents),
        d AS (
            SELECT doc_id, ' ' || lower(text) || ' ' AS pad
            FROM scoring WHERE length(text) > 0),
        bg AS (
            SELECT doc_id, substr(pad, CAST(i AS INT), 2) AS bg
            FROM d, LATERAL unnest(range(1, length(pad))) AS u(i)),
        refd AS (
            SELECT ' ' || lower(text) || ' ' AS pad FROM documents
            WHERE lang = '{PPL_REF_LANG}' AND length(text) > 0),
        refbg AS (
            SELECT substr(pad, CAST(i AS INT), 2) AS bg
            FROM refd, LATERAL unnest(range(1, length(pad))) AS u(i)),
        bc AS (
            SELECT bg, count(*) AS bc FROM refbg GROUP BY bg),
        uc AS (
            SELECT substr(bg, 1, 1) AS c1, sum(bc) AS uc
            FROM bc GROUP BY 1),
        v AS (SELECT count(DISTINCT substr(bg, 2, 1)) AS v FROM bc),
        lp AS (
            -- int64 micro-unit quantization: the per-doc sum is exact
            -- integer addition, order-independent on both engines
            SELECT b.doc_id,
                   CAST(round(log2((COALESCE(bc.bc, 0) + 1)
                        / (COALESCE(uc.uc, 0) + v.v)) * 1000000, 0)
                        AS BIGINT) AS lpu
            FROM bg b
            LEFT JOIN bc ON b.bg = bc.bg
            LEFT JOIN uc ON substr(b.bg, 1, 1) = uc.c1
            CROSS JOIN v),
        h AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   -(sum(lpu) / (count(*) * 1000000.0)) AS h
            FROM lp GROUP BY doc_id)
        SELECT doc_id, n_bigrams,
               round(h, 4) AS cross_entropy,
               round(power(2, h), 3) AS perplexity,
               CASE WHEN power(2, h) <= {PPL_HEAD_MAX} THEN 'head'
                    WHEN power(2, h) <= {PPL_MIDDLE_MAX} THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket
        FROM h ORDER BY doc_id
    """


ORACLES["char_lm_ppl"] = _char_lm_ppl_oracle()


def _chunk_docs_oracle() -> str:
    """GENERATED from textdata's chunking constants (twin of
    textdata.chunk_docs): identical whitespace tokenization, start
    sequence, slice, and space re-join."""
    from .textdata import CHUNK_MAX_TOKENS, CHUNK_STRIDE

    return f"""
        WITH base AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '') AS toks
            FROM documents),
        sized AS (SELECT doc_id, toks, len(toks) AS n FROM base)
        SELECT doc_id,
               CAST(s.start // {CHUNK_STRIDE} AS INT) AS chunk_id,
               CAST(s.start AS INT) AS start_tok,
               CAST(len(toks[s.start + 1 : s.start + {CHUNK_MAX_TOKENS}])
                    AS INT) AS chunk_tokens,
               array_to_string(
                   toks[s.start + 1 : s.start + {CHUNK_MAX_TOKENS}], ' ')
                   AS chunk_text
        FROM sized, LATERAL unnest(generate_series(
                 0, greatest(n - 1, 0), {CHUNK_STRIDE})) AS s(start)
        ORDER BY doc_id, chunk_id
    """


ORACLES["chunk_docs"] = _chunk_docs_oracle()


def _bigram_pmi_oracle() -> str:
    """GENERATED from textdata's PMI constants (twin of
    textdata.bigram_pmi): identical word pattern, exact counts, and
    rounded-ln PMI so ordering is portable."""
    from .textdata import PMI_MIN_COUNT, PMI_TOP_K

    return f"""
        WITH dw AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z]+') AS ws
            FROM documents),
        uni AS (
            SELECT w, count(*) AS cw
            FROM (SELECT unnest(ws) AS w FROM dw) GROUP BY w),
        t1 AS (SELECT sum(cw) AS t1 FROM uni),
        pairs AS (
            SELECT ws[CAST(i AS INT)] AS w1,
                   ws[CAST(i AS INT) + 1] AS w2
            FROM dw, LATERAL unnest(range(1, len(ws))) AS u(i)
            WHERE len(ws) >= 2),
        bi AS (SELECT w1, w2, count(*) AS n_pair
               FROM pairs GROUP BY w1, w2),
        t2 AS (SELECT sum(n_pair) AS t2 FROM bi)
        SELECT b.w1, b.w2, b.n_pair, u1.cw AS n_w1, u2.cw AS n_w2,
               round(ln((CAST(b.n_pair AS DOUBLE) / t2.t2)
                        / ((CAST(u1.cw AS DOUBLE) / t1.t1)
                           * (CAST(u2.cw AS DOUBLE) / t1.t1))), 4) AS pmi
        FROM bi b
        JOIN uni u1 ON b.w1 = u1.w
        JOIN uni u2 ON b.w2 = u2.w
        CROSS JOIN t1 CROSS JOIN t2
        WHERE b.n_pair >= {PMI_MIN_COUNT}
        ORDER BY pmi DESC, w1, w2
        LIMIT {PMI_TOP_K}
    """


ORACLES["bigram_pmi"] = _bigram_pmi_oracle()


# The planted-link pages construction shared by the link_graph and
# host_pagerank twins (twin of urls._linked_pages): page doc_id lives on
# s{doc_id%11}.example and links to h{doc_id%23}, h{(doc_id*7+1)%23} and
# s{(doc_id+1)%11}; a relative /about link exercises the absolute-only
# filter. The twin extracts links with the same href pattern rather than
# assuming the construction, so an extraction bug still goes red.
_LINKED_PAGES_CTE = """
        pages AS (
            SELECT 's' || CAST(doc_id % 11 AS VARCHAR) || '.example/p/'
                       || CAST(doc_id AS VARCHAR) AS path_tail,
                   's' || CAST(doc_id % 11 AS VARCHAR) || '.example'
                       AS src_host,
                   '<html><body><nav><a href="/about">about</a></nav><p>'
                   || text
                   || '</p><a href="https://h'
                   || CAST(doc_id % 23 AS VARCHAR)
                   || '.example/p/' || CAST(doc_id * 3 AS VARCHAR)
                   || '">r1</a> <a href="https://h'
                   || CAST((doc_id * 7 + 1) % 23 AS VARCHAR)
                   || '.example/q/' || CAST(doc_id AS VARCHAR)
                   || '?x=1">r2</a> <a href="https://s'
                   || CAST((doc_id + 1) % 11 AS VARCHAR)
                   || '.example/p/' || CAST(doc_id + 1 AS VARCHAR)
                   || '">next</a></body></html>' AS html_str
            FROM documents),
        links AS (
            SELECT 'https://' || path_tail AS url, src_host,
                   unnest(regexp_extract_all(
                       html_str, 'href="(https?://[^"]+)"', 1)) AS dst_url
            FROM pages),
        edges AS (
            SELECT src_host,
                   lower(regexp_extract(dst_url,
                       '^https?://([^/:?#]+)', 1)) AS dst_host,
                   CAST(count(*) AS BIGINT) AS n_links,
                   CAST(count(DISTINCT url) AS BIGINT) AS n_src_pages
            FROM links GROUP BY 1, 2)
"""

ORACLES["link_graph"] = f"""
        WITH {_LINKED_PAGES_CTE}
        SELECT src_host, dst_host, n_links, n_src_pages
        FROM edges ORDER BY src_host, dst_host
    """


def _host_pagerank_oracle() -> str:
    """GENERATED from urls' PageRank constants (twin of
    urls.host_pagerank): the same 3 iterations unrolled as CTEs, each
    in exact int64 MICRO-UNITS — per edge round(rank_u * n_links / o),
    exact per-dst sum, re-quantized damping step — so every round is
    summation-order-independent on both engines; init 1e6, dangling
    nodes keep the (1-d) base."""
    from .urls import PAGERANK_DAMPING, PAGERANK_ITERS

    d = PAGERANK_DAMPING
    base_u = round((1.0 - d) * 1_000_000)
    iters = []
    prev = "r0"
    for k in range(1, PAGERANK_ITERS + 1):
        iters.append(f"""
        r{k} AS (
            SELECT n.host,
                   CAST({base_u} + CAST(round({d} * COALESCE(c.c, 0), 0)
                                        AS BIGINT) AS BIGINT) AS rq
            FROM nodes n LEFT JOIN (
                SELECT w.dst_host AS host,
                       sum(CAST(round(r.rq * w.n_links * 1.0 / w.o, 0)
                                AS BIGINT)) AS c
                FROM wedges w JOIN {prev} r ON w.src_host = r.host
                GROUP BY w.dst_host) c ON n.host = c.host)""")
        prev = f"r{k}"
    return f"""
        WITH {_LINKED_PAGES_CTE},
        outd AS (
            SELECT src_host, sum(n_links) AS o FROM edges
            GROUP BY src_host),
        wedges AS (
            SELECT e.src_host, e.dst_host, e.n_links, outd.o
            FROM edges e JOIN outd ON e.src_host = outd.src_host),
        nodes AS (
            SELECT DISTINCT host FROM (
                SELECT src_host AS host FROM edges
                UNION ALL SELECT dst_host FROM edges)),
        r0 AS (SELECT host, CAST(1000000 AS BIGINT) AS rq
               FROM nodes),{','.join(iters)}
        SELECT host, round(rq / 1000000.0, 4) AS rank
        FROM {prev} ORDER BY host
    """


ORACLES["host_pagerank"] = _host_pagerank_oracle()


def _bm25_topk_oracle() -> str:
    """GENERATED from ranking's BM25 constants (twin of
    ranking.bm25_topk): identical tokenization, Lucene-form idf, and
    score expression tree; round-4 before ordering so the top-k cut is
    portable."""
    from .ranking import BM25_B, BM25_K1, BM25_QUERY, BM25_TOP_K

    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    k1, b = BM25_K1, BM25_B
    return f"""
        WITH base AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z]+') AS ws
            FROM documents),
        sized AS (SELECT doc_id, len(ws) AS dl, ws FROM base),
        stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM sized),
        tf AS (
            SELECT doc_id, dl, w, count(*) AS tf
            FROM (SELECT doc_id, dl, unnest(ws) AS w FROM sized)
            WHERE w IN ({terms})
            GROUP BY doc_id, dl, w),
        dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        contrib AS (
            -- int64 micro-unit quantization: per-doc sum is exact
            SELECT doc_id,
                   CAST(round((ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5)
                                  / (df + 0.5))
                   * tf * ({k1} + 1.0)
                   / (tf + {k1} * ((1.0 - {b}) + {b} * dl / avgdl)))
                   * 1000000, 0) AS BIGINT) AS su
            FROM tf JOIN dfreq USING (w) CROSS JOIN stats)
        SELECT doc_id, round(sum(su) / 1000000.0, 4) AS score,
               count(*) AS n_terms
        FROM contrib GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT {BM25_TOP_K}
    """


ORACLES["bm25_topk"] = _bm25_topk_oracle()


def _tfidf_keywords_oracle() -> str:
    """GENERATED from ranking's TFIDF constant (twin of
    ranking.tfidf_keywords): identical tokenization and tf*ln(N/df)
    rounded to 4 BEFORE the per-doc top-k; ties break on term asc
    (Spark selects via sorted struct (-tfidf, term), the twin via
    row_number — same order)."""
    from .ranking import TFIDF_PER_DOC

    return f"""
        WITH toks AS (
            SELECT doc_id, unnest(
                regexp_extract_all(lower(text), '[a-z]+')) AS w
            FROM documents),
        tf AS (SELECT doc_id, w, count(*) AS tf
               FROM toks GROUP BY doc_id, w),
        dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        nn AS (SELECT count(*) AS n FROM documents),
        scored AS (
            SELECT doc_id, w,
                   round(tf * ln(CAST(n AS DOUBLE) / df), 4) AS tfidf
            FROM tf JOIN dfreq USING (w) CROSS JOIN nn),
        ranked AS (
            SELECT doc_id, w, tfidf,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY tfidf DESC, w) AS rk
            FROM scored)
        SELECT doc_id, CAST(rk AS INT) AS rk, w AS term, tfidf
        FROM ranked WHERE rk <= {TFIDF_PER_DOC}
        ORDER BY doc_id, rk
    """


ORACLES["tfidf_keywords"] = _tfidf_keywords_oracle()


# Portable Horner word-feature hash (twin of learned._bucket): exact
# int64 fold of codepoints mod the prime, mod the bucket count —
# list_prepend seeds DuckDB's init-less list_reduce.
def _sql_bucket(tok: str, buckets: int) -> str:
    from .learned import HASH_MOD

    return (f"CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),"
            f" list_transform(range(1, length({tok}) + 1),"
            f" i -> CAST(unicode(substr({tok}, CAST(i AS INT), 1))"
            f" AS BIGINT))),"
            f" (a, c) -> (a * 31 + c) % {HASH_MOD})"
            f" % {buckets} AS INT)")


def _dsir_sample_oracle() -> str:
    """GENERATED from learned's DSIR constants (twin of
    learned.dsir_sample): identical bucket hash, add-one-smoothed
    p/q log ratios rounded at the same sync points, same md5
    hash-threshold keep rule."""
    from .learned import DSIR_BUCKETS, DSIR_KEEP_BASE, DSIR_TARGET_LANG

    B = DSIR_BUCKETS
    return f"""
        WITH base AS (
            SELECT doc_id, lang, lang = '{DSIR_TARGET_LANG}' AS is_t,
                   regexp_extract_all(lower(text), '[a-z]+') AS ws
            FROM documents),
        toks AS (
            SELECT doc_id, is_t, {_sql_bucket('t', B)} AS b
            FROM (SELECT doc_id, is_t, unnest(ws) AS t FROM base)),
        q AS (SELECT b, count(*) AS qc FROM toks GROUP BY b),
        p AS (SELECT b, count(*) AS pc FROM toks WHERE is_t GROUP BY b),
        qt AS (SELECT sum(qc) AS qt FROM q),
        pt AS (SELECT sum(pc) AS pt FROM p),
        ratios AS (
            -- int64 micro-unit quantization: the per-doc sum is exact
            -- integer addition, order-independent on both engines
            SELECT r.b,
                   CAST(round(ln(((COALESCE(pc, 0) + 1.0) / (pt + {B}))
                              / ((COALESCE(qc, 0) + 1.0) / (qt + {B})))
                              * 1000000, 0) AS BIGINT) AS lru
            FROM (SELECT CAST(unnest(range(0, {B})) AS INT) AS b) r
            LEFT JOIN q ON r.b = q.b LEFT JOIN p ON r.b = p.b
            CROSS JOIN qt CROSS JOIN pt),
        perdoc AS (
            SELECT doc_id, count(*) AS n_tok, sum(lru) AS sum_u
            FROM toks JOIN ratios ON toks.b = ratios.b
            GROUP BY doc_id),
        wts AS (
            SELECT d.doc_id, d.lang,
                   COALESCE(round(sum_u / (n_tok * 1000000.0), 6), 0.0)
                       AS alr,
                   (instr('0123456789abcdef',
                          substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1))
                    - 1) * 16
                   + (instr('0123456789abcdef',
                            substr(md5(CAST(d.doc_id AS VARCHAR)), 2, 1))
                      - 1) AS bucket
            FROM documents d LEFT JOIN perdoc ON d.doc_id = perdoc.doc_id)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(CASE WHEN bucket < 256.0 * least(1.0,
                                 exp(alr) * {DSIR_KEEP_BASE})
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               round(avg(alr), 4) AS mean_log_ratio
        FROM wts GROUP BY lang ORDER BY lang
    """


ORACLES["dsir_sample"] = _dsir_sample_oracle()


def _embed_docs_oracle() -> str:
    """GENERATED from learned's EMBED_DIM/HASH_MOD (twin of
    learned.embed_docs): identical Horner token hash, dimension and
    sign assignment, signed-count accumulation — exact int64 on both
    engines, so vectors match element for element."""
    from .learned import EMBED_DIM as D, HASH_MOD as M

    h = ("CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),"
         " list_transform(range(1, length(w) + 1),"
         " i -> CAST(unicode(substr(w, CAST(i AS INT), 1))"
         " AS BIGINT))),"
         f" (a, c) -> (a * 31 + c) % {M}) AS BIGINT)")
    return f"""
        WITH t AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z]+') AS ws
            FROM documents),
        tok AS (
            SELECT doc_id, {h} AS h
            FROM (SELECT doc_id, unnest(ws) AS w FROM t)),
        contrib AS (
            SELECT doc_id, CAST(h % {D} AS INT) AS d,
                   CASE WHEN (h // {D}) % 2 = 0 THEN 1 ELSE -1 END AS s
            FROM tok),
        sums AS (
            SELECT doc_id, d, CAST(sum(s) AS BIGINT) AS v
            FROM contrib GROUP BY doc_id, d),
        grid AS (
            SELECT doc_id, CAST(u.i AS INT) AS d
            FROM documents, LATERAL unnest(range(0, {D})) AS u(i))
        SELECT t.doc_id, CAST(len(t.ws) AS INT) AS n_tokens,
               s2.d AS dim, CAST(COALESCE(s3.v, 0) AS BIGINT) AS v
        FROM t
        JOIN grid s2 ON t.doc_id = s2.doc_id
        LEFT JOIN sums s3 ON s2.doc_id = s3.doc_id AND s2.d = s3.d
        ORDER BY t.doc_id, s2.d
    """


ORACLES["embed_docs"] = _embed_docs_oracle()



def _lr_cte_chain() -> str:
    """The shared unrolled fixed-point gradient-descent CTE chain
    (twin of learned.lr_train): LR_ITERS full-batch iterations in
    exact integer micro-units over the intercept-extended feature
    table (bucket -1 always on) — every sum is int64 and therefore
    order-independent; the sigmoid is the single float step per
    iteration, re-quantized with the away-from-zero rounding Spark's
    round() shares; the integer learning rate makes the weight update
    itself exact. PageRank-style unrolling, same schedule as Spark."""
    from .learned import (
        LR_BUCKETS, LR_ITERS, LR_POS_WORDS, LR_RATE, LR_SCALE)

    B, lr, S = LR_BUCKETS, LR_RATE, LR_SCALE
    pos = ", ".join(f"'{w}'" for w in LR_POS_WORDS)
    parts = [f"""
        base AS MATERIALIZED (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z]+') AS ws
            FROM documents),
        labels AS MATERIALIZED (
            SELECT doc_id,
                   CASE WHEN len(list_intersect(ws, [{pos}])) > 0
                        THEN 1 ELSE 0 END AS y
            FROM base),
        feats_i AS MATERIALIZED (
            SELECT DISTINCT doc_id, {_sql_bucket('t', B)} AS bucket
            FROM (SELECT doc_id, unnest(ws) AS t FROM base)
            UNION ALL
            SELECT doc_id, -1 AS bucket FROM labels),
        nn AS (SELECT count(*) AS n FROM labels),
        w_0 AS (SELECT CAST(unnest(range(-1, {B})) AS INT) AS bucket,
                       CAST(0 AS BIGINT) AS w6)"""]
    for k in range(1, LR_ITERS + 1):
        j = k - 1
        parts.append(f"""
        s_{k} AS MATERIALIZED (
            SELECT l.doc_id, l.y, sum(w.w6) AS score6
            FROM labels l JOIN feats_i f ON l.doc_id = f.doc_id
            JOIN w_{j} w ON f.bucket = w.bucket
            GROUP BY l.doc_id, l.y),
        p_{k} AS MATERIALIZED (
            SELECT doc_id, y,
                   CAST(round({S} / (1.0 + exp(
                       -(CAST(score6 AS DOUBLE) / {S})))) AS BIGINT)
                       AS p6
            FROM s_{k}),
        g_{k} AS MATERIALIZED (
            SELECT f.bucket,
                   CAST(round(CAST(sum(p.p6 - p.y * {S}) AS DOUBLE)
                              / (SELECT n FROM nn)) AS BIGINT) AS g6
            FROM feats_i f JOIN p_{k} p ON f.doc_id = p.doc_id
            GROUP BY f.bucket),
        w_{k} AS MATERIALIZED (
            SELECT w.bucket,
                   w.w6 - {lr} * COALESCE(g.g6, 0) AS w6
            FROM w_{j} w LEFT JOIN g_{k} g ON w.bucket = g.bucket)""")
    return ",".join(parts)


def _lr_train_weights_oracle() -> str:
    from .learned import LR_ITERS

    K = LR_ITERS
    from .learned import LR_SCALE

    return f"""
        WITH {_lr_cte_chain()},
        pb AS (SELECT bucket, count(*) AS nd FROM feats_i
               WHERE bucket >= 0 GROUP BY bucket)
        SELECT w.bucket, w.w6 / {LR_SCALE}.0 AS weight,
               CAST(COALESCE(pb.nd, 0) AS BIGINT) AS n_docs
        FROM w_{K} w LEFT JOIN pb ON w.bucket = pb.bucket
        ORDER BY w.bucket
    """


ORACLES["lr_train_weights"] = _lr_train_weights_oracle()


def _lr_train_eval_oracle() -> str:
    from .learned import LR_ITERS

    K = LR_ITERS
    return f"""
        WITH {_lr_cte_chain()},
        sfin AS (
            SELECT l.doc_id, l.y, sum(w.w6) AS score6
            FROM labels l JOIN feats_i f ON l.doc_id = f.doc_id
            JOIN w_{K} w ON f.bucket = w.bucket
            GROUP BY l.doc_id, l.y),
        verdicts AS (
            SELECT y, CASE WHEN score6 >= 0 THEN 1 ELSE 0 END AS pred
            FROM sfin)
        SELECT count(*) AS n_docs,
               CAST(sum(y) AS BIGINT) AS n_pos,
               CAST(sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tp,
               CAST(sum(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS fp,
               CAST(sum(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS fn,
               CAST(sum(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tn,
               round((sum(CASE WHEN pred = y THEN 1 ELSE 0 END))
                     / CAST(count(*) AS DOUBLE), 4) AS accuracy
        FROM verdicts
    """


ORACLES["lr_train_eval"] = _lr_train_eval_oracle()


# robots.txt politeness twin (urls.robots_verdicts): same synthesized
# frontier; the star RULE SET per host class is re-derived in Python by
# an independent parse-free enumeration of the five fixed bodies (the
# class constructions are literals), with the rule->regex translation
# re-implemented by _robots_rx below — so Spark's array-expr group
# parse AND its in-plan regex translation are both checked against an
# independent second implementation; the per-path longest-pattern /
# Allow-wins-ties match runs in SQL over the frontier.


def _robots_rx(v: str) -> str:
    """Independent twin of urls._robots_rule_rx: anchored regex from a
    robots rule value — escape regex metachars (backslash first),
    '*' -> '.*', trailing '$' kept as the end anchor."""
    anchor = v.endswith("$")
    core = v[:-1] if anchor else v
    for ch in "\\.^$+?()[]{}|":
        core = core.replace(ch, "\\" + ch)
    core = core.replace("*", ".*")
    return "^" + core + ("$" if anchor else "")


def _robots_verdicts_oracle() -> str:
    # star rules per host class k%5, in file line order (classes 1 and
    # 2 have none: allow-all idiom / no star group). Class 3 carries
    # the SAME effective rules as class 0 but via a stacked header and
    # a second merged star group -- identical verdicts prove the r6
    # group-model parse.
    star_rules = {
        0: [("dis", "/private"), ("al", "/private/ok"),
            ("dis", "/tmp/")],
        3: [("dis", "/private"), ("al", "/private/ok"),
            ("dis", "/tmp/")],
        4: [("dis", "/*.pdf$"), ("dis", "/tmp/*"),
            ("al", "/tmp/z1*")],
    }
    rows = ",\n            ".join(
        f"({cls}, '{kind}', {len(v)}, '{_robots_rx(v)}')"
        for cls, rules in star_rules.items()
        for kind, v in rules)
    return f"""
        WITH rules AS (
            SELECT * FROM (VALUES
            {rows}) AS t(cls, kind, l, rx)),
        urls AS (
            SELECT doc_id,
                   's' || CAST(doc_id % 11 AS VARCHAR) || '.example'
                       AS host,
                   CAST((doc_id % 11) % 5 AS INT) AS cls,
                   CASE CAST(doc_id % 5 AS INT)
                     WHEN 0 THEN '/p/' || CAST(doc_id AS VARCHAR)
                                 || CASE WHEN doc_id % 2 = 0
                                         THEN '.pdf' ELSE '' END
                     WHEN 1 THEN '/private/x' || CAST(doc_id AS VARCHAR)
                     WHEN 2 THEN '/private/ok/y'
                                 || CAST(doc_id AS VARCHAR)
                     WHEN 3 THEN '/tmp/z' || CAST(doc_id AS VARCHAR)
                     ELSE '' END AS rawpath
            FROM documents),
        u2 AS (
            SELECT doc_id, host, cls,
                   CASE WHEN rawpath = '' THEN '/' ELSE rawpath END
                       AS path
            FROM urls),
        scored AS (
            SELECT u2.doc_id, u2.host, u2.path, u2.cls,
                   CAST(COALESCE(MAX(CASE WHEN r.kind = 'al'
                            AND regexp_matches(u2.path, r.rx)
                            THEN r.l END), -1) AS INT) AS best_allow,
                   CAST(COALESCE(MAX(CASE WHEN r.kind = 'dis'
                            AND regexp_matches(u2.path, r.rx)
                            THEN r.l END), -1) AS INT) AS best_disallow
            FROM u2 LEFT JOIN rules r ON u2.cls = r.cls
            GROUP BY u2.doc_id, u2.host, u2.path, u2.cls)
        SELECT doc_id, host, path, best_allow, best_disallow,
               best_allow >= best_disallow AS allowed,
               -- per-class Crawl-delay literals: class 0 declares 2,
               -- class 3 declares 7 and 3 across its two merged star
               -- groups (min wins); other classes none
               CASE WHEN cls = 0 THEN 2.0
                    WHEN cls = 3 THEN 3.0
                    ELSE -1.0 END AS crawl_delay
        FROM scored ORDER BY doc_id
    """


ORACLES["robots_verdicts"] = _robots_verdicts_oracle()


def _anchor_terms_oracle() -> str:
    """GENERATED from urls' anchor constants (twin of urls.anchor_terms):
    the same planted-link page construction as the link_graph twin, the
    same two-group href/anchor extraction (group 1 = target, group 2 =
    anchor text), word tokenization, (dst_host, term) counts, and a
    row_number top-k standing in for Spark's bounded collect+slice."""
    from .urls import ANCHOR_TOP_K

    return f"""
        WITH pages AS (
            SELECT '<html><body><nav><a href="/about">about</a></nav><p>'
                   || text
                   || '</p><a href="https://h'
                   || CAST(doc_id % 23 AS VARCHAR)
                   || '.example/p/' || CAST(doc_id * 3 AS VARCHAR)
                   || '">r1</a> <a href="https://h'
                   || CAST((doc_id * 7 + 1) % 23 AS VARCHAR)
                   || '.example/q/' || CAST(doc_id AS VARCHAR)
                   || '?x=1">r2</a> <a href="https://s'
                   || CAST((doc_id + 1) % 11 AS VARCHAR)
                   || '.example/p/' || CAST(doc_id + 1 AS VARCHAR)
                   || '">next</a></body></html>' AS html_str
            FROM documents),
        hx AS (
            SELECT regexp_extract_all(html_str,
                       'href="(https?://[^"]+)"[^>]*>([^<]*)</a>', 1)
                       AS hs,
                   regexp_extract_all(html_str,
                       'href="(https?://[^"]+)"[^>]*>([^<]*)</a>', 2)
                       AS txts
            FROM pages),
        anchors AS (
            SELECT hs[CAST(i AS INT)] AS dst,
                   txts[CAST(i AS INT)] AS txt
            FROM hx, LATERAL unnest(range(1, len(hs) + 1)) AS u(i)),
        terms AS (
            SELECT lower(regexp_extract(dst,
                       '^https?://([^/:?#]+)', 1)) AS dst_host,
                   unnest(regexp_extract_all(lower(txt), '[a-z]+'))
                       AS term
            FROM anchors),
        counts AS (
            SELECT dst_host, term, count(*) AS n
            FROM terms GROUP BY dst_host, term),
        ranked AS (
            SELECT dst_host, term, n,
                   row_number() OVER (PARTITION BY dst_host
                                      ORDER BY n DESC, term) AS rk
            FROM counts)
        SELECT dst_host, CAST(rk AS INT) AS rk, term, n
        FROM ranked WHERE rk <= {ANCHOR_TOP_K}
        ORDER BY dst_host, rk
    """


ORACLES["anchor_terms"] = _anchor_terms_oracle()


# crawl snapshot diff twin (urls.crawl_diff): the same two synthesized
# cycles (B removes doc_id%17==3, rewrites %17==5, discovers a fresh url
# per %17==7) and the same full-outer digest comparison.
ORACLES["crawl_diff"] = """
        WITH old AS (
            SELECT 'https://s' || CAST(doc_id % 11 AS VARCHAR)
                   || '.example/p/' || CAST(doc_id AS VARCHAR) AS url,
                   md5(text) AS od
            FROM documents),
        new AS (
            SELECT 'https://s' || CAST(doc_id % 11 AS VARCHAR)
                   || '.example/p/' || CAST(doc_id AS VARCHAR) AS url,
                   CASE WHEN doc_id % 17 = 5 THEN md5(text || 'v2')
                        ELSE md5(text) END AS nd
            FROM documents WHERE doc_id % 17 <> 3
            UNION ALL
            SELECT 'https://s' || CAST(doc_id % 11 AS VARCHAR)
                   || '.example/new/' || CAST(doc_id AS VARCHAR) AS url,
                   md5('new:' || text) AS nd
            FROM documents WHERE doc_id % 17 = 7)
        SELECT COALESCE(old.url, new.url) AS url,
               CASE WHEN od IS NULL THEN 'added'
                    WHEN nd IS NULL THEN 'removed'
                    WHEN od = nd THEN 'unchanged'
                    ELSE 'changed' END AS status,
               COALESCE(od, '') AS old_digest,
               COALESCE(nd, '') AS new_digest
        FROM old FULL OUTER JOIN new ON old.url = new.url
        ORDER BY url
    """


def _kmeans_cte_chain(qv_cte: str | None = None,
                      dims: int | None = None) -> tuple[str, int]:
    """Shared unrolled Lloyd chain (twin of learned.kmeans_fit_qv +
    final assignment): deterministic init (first K vectors),
    KMEANS_ITERS rounds with exact integer distances and one
    away-from-zero rounding per centroid component, empty clusters
    keeping their previous centroid; ends with the final assignment
    a_f(vec_id, k, dist). ``qv_cte`` overrides the vector source —
    CTE text (including any prefix CTEs) that ends by defining
    qv(vec_id, q: BIGINT[]); the default is the micro-unit-quantized
    embeddings table. Returns (chain_sql, final_iter)."""
    from .learned import KMEANS_DIMS, KMEANS_ITERS, KMEANS_K, KMEANS_SCALE

    K, S = KMEANS_K, KMEANS_SCALE
    D = KMEANS_DIMS if dims is None else dims
    dist = (f"list_sum(list_transform(range(1, {D + 1}),"
            f" i -> (v.q[CAST(i AS INT)] - c.q[CAST(i AS INT)])"
            f" * (v.q[CAST(i AS INT)] - c.q[CAST(i AS INT)])))")
    if qv_cte is None:
        qv_cte = f"""
        qv AS MATERIALIZED (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(round(
                       CAST(x AS DOUBLE) * {S}) AS BIGINT)) AS q
            FROM embeddings)"""
    parts = [qv_cte + f""",
        c_0 AS MATERIALIZED (
            SELECT CAST(vec_id AS INT) AS k, q FROM qv
            WHERE vec_id < {K})"""]
    for it in range(1, KMEANS_ITERS + 1):
        j = it - 1
        parts.append(f"""
        d_{it} AS (
            SELECT v.vec_id, c.k, {dist} AS dist
            FROM qv v CROSS JOIN c_{j} c),
        a_{it} AS MATERIALIZED (
            SELECT vec_id, k FROM (
                SELECT vec_id, k,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, k) AS rn
                FROM d_{it}) WHERE rn = 1),
        s_{it} AS (
            SELECT a.k, CAST(u.i AS INT) AS dim,
                   CAST(round(CAST(sum(v.q[CAST(u.i AS INT)])
                                   AS DOUBLE) / count(*)) AS BIGINT)
                       AS c
            FROM a_{it} a JOIN qv v ON a.vec_id = v.vec_id,
                 LATERAL unnest(range(1, {D + 1})) AS u(i)
            GROUP BY a.k, u.i),
        n_{it} AS (
            SELECT k, list(c ORDER BY dim) AS q
            FROM s_{it} GROUP BY k),
        c_{it} AS MATERIALIZED (
            SELECT c.k, COALESCE(n.q, c.q) AS q
            FROM c_{j} c LEFT JOIN n_{it} n ON c.k = n.k)""")
    KF = KMEANS_ITERS
    chain = f"""{','.join(parts)},
        d_f AS (
            SELECT v.vec_id, c.k, {dist} AS dist
            FROM qv v CROSS JOIN c_{KF} c),
        a_f AS MATERIALIZED (
            SELECT vec_id, k, dist FROM (
                SELECT vec_id, k, dist,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, k) AS rn
                FROM d_f) WHERE rn = 1)"""
    return chain, KF


def _kmeans_clusters_oracle() -> str:
    """Twin of learned.kmeans_clusters (see _kmeans_cte_chain)."""
    chain, KF = _kmeans_cte_chain()
    return f"""
        WITH {chain},
        st AS (
            SELECT k, count(*) AS n_vecs, min(vec_id) AS rep,
                   sum(dist) AS inertia
            FROM a_f GROUP BY k)
        SELECT c.k AS cluster,
               CAST(COALESCE(st.n_vecs, 0) AS BIGINT) AS n_vecs,
               CAST(COALESCE(st.rep, -1) AS BIGINT) AS rep_vec_id,
               CAST(COALESCE(st.inertia, 0) AS BIGINT) AS inertia,
               CAST(list_sum(c.q) AS BIGINT) AS centroid_checksum
        FROM c_{KF} c LEFT JOIN st ON c.k = st.k
        ORDER BY cluster
    """


ORACLES["kmeans_clusters"] = _kmeans_clusters_oracle()


def _balanced_sample_oracle() -> str:
    """GENERATED twin of learned.cluster_balanced_sample: the shared
    Lloyd chain's final assignment + the repo's md5 hash-threshold
    sampling at rate256 = min(256, floor(256*target/n)). All-integer
    output."""
    from .learned import BALANCE_TARGET

    chain, _ = _kmeans_cte_chain()
    b = ("(instr('0123456789abcdef',"
         " substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 1)) - 1) * 16"
         " + (instr('0123456789abcdef',"
         " substr(md5(CAST(a.vec_id AS VARCHAR)), 2, 1)) - 1)")
    return f"""
        WITH {chain},
        sizes AS (
            SELECT k, count(*) AS n,
                   CAST(least(256, floor(256.0 * {BALANCE_TARGET} / n))
                        AS INT) AS rate256
            FROM a_f GROUP BY k)
        SELECT a.k AS cluster,
               CAST(r.n AS BIGINT) AS n_vecs,
               r.rate256,
               CAST(sum(CASE WHEN {b} < r.rate256 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept
        FROM a_f a JOIN sizes r ON a.k = r.k
        GROUP BY a.k, r.n, r.rate256
        ORDER BY cluster
    """


ORACLES["cluster_balanced_sample"] = _balanced_sample_oracle()


ORACLES["host_degree_stats"] = f"""
        WITH {_LINKED_PAGES_CTE},
        outd AS (
            SELECT src_host AS host, count(*) AS out_degree,
                   sum(n_links) AS n_out_links
            FROM edges GROUP BY src_host),
        ind AS (
            SELECT dst_host AS host, count(*) AS in_degree,
                   sum(n_links) AS n_in_links
            FROM edges GROUP BY dst_host)
        SELECT COALESCE(o.host, i.host) AS host,
               CAST(COALESCE(out_degree, 0) AS BIGINT) AS out_degree,
               CAST(COALESCE(in_degree, 0) AS BIGINT) AS in_degree,
               CAST(COALESCE(n_out_links, 0) AS BIGINT) AS n_out_links,
               CAST(COALESCE(n_in_links, 0) AS BIGINT) AS n_in_links
        FROM outd o FULL OUTER JOIN ind i ON o.host = i.host
        ORDER BY host
    """


def _embed_qv_cte() -> str:
    """Doc-embedding vector source for the Lloyd chain: the embed_docs
    twin's CTEs ending in qv(vec_id = doc_id, q = the exact-int
    vector)."""
    from .learned import EMBED_DIM as D, HASH_MOD as M

    h = ("CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),"
         " list_transform(range(1, length(w) + 1),"
         " i -> CAST(unicode(substr(w, CAST(i AS INT), 1))"
         " AS BIGINT))),"
         f" (a, c) -> (a * 31 + c) % {M}) AS BIGINT)")
    return f"""
        e_tok AS (
            SELECT doc_id, {h} AS h
            FROM (SELECT doc_id, unnest(
                      regexp_extract_all(lower(text), '[a-z]+')) AS w
                  FROM documents)),
        e_sums AS (
            SELECT doc_id, CAST(h % {D} AS INT) AS d,
                   CAST(sum(CASE WHEN (h // {D}) % 2 = 0
                                 THEN 1 ELSE -1 END) AS BIGINT) AS v
            FROM e_tok GROUP BY doc_id, CAST(h % {D} AS INT)),
        e_grid AS (
            SELECT doc_id, CAST(u.i AS INT) AS d
            FROM documents, LATERAL unnest(range(0, {D})) AS u(i)),
        qv AS MATERIALIZED (
            SELECT g.doc_id AS vec_id,
                   list(CAST(COALESCE(s.v, 0) AS BIGINT)
                        ORDER BY g.d) AS q
            FROM e_grid g LEFT JOIN e_sums s
                 ON g.doc_id = s.doc_id AND g.d = s.d
            GROUP BY g.doc_id)"""


def _embed_kmeans_docs_oracle() -> str:
    """Twin of learned.embed_kmeans_docs: the shared Lloyd chain over
    the doc-embedding qv source (same report as kmeans_clusters)."""
    from .learned import EMBED_DIM

    chain, KF = _kmeans_cte_chain(_embed_qv_cte(), dims=EMBED_DIM)
    return f"""
        WITH {chain},
        st AS (
            SELECT k, count(*) AS n_vecs, min(vec_id) AS rep,
                   sum(dist) AS inertia
            FROM a_f GROUP BY k)
        SELECT c.k AS cluster,
               CAST(COALESCE(st.n_vecs, 0) AS BIGINT) AS n_vecs,
               CAST(COALESCE(st.rep, -1) AS BIGINT) AS rep_vec_id,
               CAST(COALESCE(st.inertia, 0) AS BIGINT) AS inertia,
               CAST(list_sum(c.q) AS BIGINT) AS centroid_checksum
        FROM c_{KF} c LEFT JOIN st ON c.k = st.k
        ORDER BY cluster
    """


ORACLES["embed_kmeans_docs"] = _embed_kmeans_docs_oracle()


def _embed_dedup_docs_oracle() -> str:
    """Twin of learned.embed_dedup_docs: Lloyd chain over doc
    embeddings, within-cluster pairs under the EXACT INTEGER cosine
    test (den*dot^2 >= num*|a|^2*|b|^2 with dot > 0 — no floats, no
    epsilon), recursive-CTE component closure, keep = component min."""
    from .learned import EMBED_DEDUP_DEN, EMBED_DEDUP_NUM, EMBED_DIM

    chain, KF = _kmeans_cte_chain(_embed_qv_cte(), dims=EMBED_DIM)
    dot = (f"list_sum(list_transform(range(1, {EMBED_DIM + 1}),"
           f" i -> x.q[CAST(i AS INT)] * y.q[CAST(i AS INT)]))")
    n2 = (f"list_sum(list_transform(range(1, {EMBED_DIM + 1}),"
          f" i -> q[CAST(i AS INT)] * q[CAST(i AS INT)]))")
    return f"""
        WITH RECURSIVE {chain},
        av AS MATERIALIZED (
            SELECT a.vec_id, a.k, v.q, {n2} AS n2
            FROM a_f a JOIN qv v USING (vec_id)),
        nd_p AS (
            SELECT x.vec_id AS a_id, y.vec_id AS b_id
            FROM av x JOIN av y
                 ON x.k = y.k AND x.vec_id < y.vec_id
            WHERE {dot} > 0
              AND {EMBED_DEDUP_DEN} * {dot} * {dot}
                  >= {EMBED_DEDUP_NUM} * x.n2 * y.n2),
        nd_sym AS (
            SELECT a_id AS src, b_id AS dst FROM nd_p
            UNION
            SELECT b_id, a_id FROM nd_p),
        nd_reach(src, dst) AS (
            SELECT src, dst FROM nd_sym
            UNION
            SELECT r.src, s2.dst
            FROM nd_reach r JOIN nd_sym s2 ON r.dst = s2.src),
        nd_comp AS (
            SELECT src AS vec_id, least(src, min(dst)) AS comp
            FROM nd_reach GROUP BY src)
        SELECT a.vec_id AS doc_id, CAST(a.k AS INT) AS cluster,
               CAST(COALESCE(c.comp, a.vec_id) AS BIGINT) AS comp,
               COALESCE(c.comp, a.vec_id) = a.vec_id AS keep
        FROM a_f a LEFT JOIN nd_comp c ON a.vec_id = c.vec_id
        ORDER BY doc_id
    """


ORACLES["embed_dedup_docs"] = _embed_dedup_docs_oracle()


def _pack_report_oracle() -> str:
    """GENERATED from textdata's chunk/pack constants (twin of
    textdata.pack_report): the chunk_docs CTE, the same md5 doc-id
    bucket, the same within-bucket (doc_id, chunk_id) cumulative sum,
    and the straddler predicate floor((end-1)/B) > floor((end-n)/B)."""
    from .textdata import CHUNK_MAX_TOKENS, CHUNK_STRIDE, PACK_BUDGET as B

    bkt = ("(instr('0123456789abcdef',"
           " substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16"
           " + (instr('0123456789abcdef',"
           " substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)")
    return f"""
        WITH base AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '') AS toks
            FROM documents),
        sized AS (SELECT doc_id, toks, len(toks) AS n FROM base),
        chunks AS (
            SELECT doc_id,
                   CAST(s.start // {CHUNK_STRIDE} AS INT) AS chunk_id,
                   CAST(len(toks[s.start + 1 :
                               s.start + {CHUNK_MAX_TOKENS}])
                        AS INT) AS chunk_tokens
            FROM sized, LATERAL unnest(generate_series(
                     0, greatest(n - 1, 0), {CHUNK_STRIDE})) AS s(start)),
        bucketed AS (
            SELECT doc_id, chunk_id, chunk_tokens,
                   CAST({bkt} AS INT) AS bucket
            FROM chunks),
        c AS (
            SELECT bucket, chunk_tokens,
                   sum(chunk_tokens) OVER (
                       PARTITION BY bucket ORDER BY doc_id, chunk_id
                       ROWS UNBOUNDED PRECEDING) AS endo
            FROM bucketed)
        SELECT bucket,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(chunk_tokens) AS BIGINT) AS n_tokens,
               CAST(ceil(sum(chunk_tokens) / {B}) AS BIGINT) AS n_packs,
               CAST(sum(CASE WHEN chunk_tokens > 0
                         AND (endo - 1) // {B}
                             > (endo - chunk_tokens) // {B}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
        FROM c GROUP BY bucket ORDER BY bucket
    """


ORACLES["pack_report"] = _pack_report_oracle()


def _mix_budget_oracle() -> str:
    """GENERATED from textdata's MIX_* constants (twin of
    textdata.mix_budget): same token counts, target rounding, epoch
    cap/split, and 256-quantized fractional rate."""
    from .textdata import (
        MIX_BUDGET_TOKENS as BUD, MIX_MAX_EPOCHS as CAP,
        MIX_TARGET_WEIGHTS)

    wrows = ", ".join(f"('{lang}', {w})" for lang, w in MIX_TARGET_WEIGHTS)
    return f"""
        WITH wt(lang, w) AS (VALUES {wrows}),
        counts AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(list_filter(
                       string_split_regex(text, '\\s+'),
                       x -> x <> ''))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY lang),
        plan AS (
            SELECT c.lang, c.n_docs, c.n_tokens,
                   COALESCE(wt.w, 0.0) AS target_frac,
                   CAST(round(COALESCE(wt.w, 0.0) * {BUD}, 0) AS BIGINT)
                       AS target_tokens
            FROM counts c LEFT JOIN wt ON c.lang = wt.lang),
        ep AS (
            SELECT *,
                   least(CAST({CAP} AS DOUBLE),
                         target_tokens / n_tokens) AS epochs
            FROM plan)
        SELECT lang, n_docs, n_tokens, target_frac, target_tokens,
               CAST(floor(epochs) AS BIGINT) AS full_epochs,
               CAST(floor((epochs - floor(epochs)) * 256) AS INT)
                   AS frac_rate256,
               CAST(n_tokens * CAST(floor(epochs) AS BIGINT)
                    + CAST(floor(n_tokens * CAST(floor(
                          (epochs - floor(epochs)) * 256) AS INT)
                          / 256) AS BIGINT) AS BIGINT)
                   AS planned_tokens
        FROM ep ORDER BY lang
    """


ORACLES["mix_budget"] = _mix_budget_oracle()


def _gopher_report_oracle() -> str:
    """GENERATED from textdata's GOPHER_* constants (twin of
    textdata.gopher_report): same planted rule-breakers, same integer
    counts, same single-division ratios and rule thresholds; the
    has-alpha predicate is lower(w) <> upper(w) on both engines (a
    cased-character test — unicode-general, pure string ops)."""
    from .textdata import (
        GOPHER_MAX_MEAN_LEN, GOPHER_MAX_SYMBOL_RATIO, GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_FRAC, GOPHER_MIN_MEAN_LEN, GOPHER_MIN_STOPWORDS,
        GOPHER_MIN_WORDS, GOPHER_STOPWORDS)
    from .textdata import gopher_report as _gr

    import inspect
    src = inspect.getsource(_gr)
    # the planted docs are literal tuples inside the driver function;
    # re-evaluate them here so the twin can never drift from the plants
    ns: dict = {}
    plants_src = src[src.index("plants = ["):src.index("]", src.index(
        "plants = [")) + 1]
    exec(plants_src, ns)  # noqa: S102 - own source, deterministic
    prows = ", ".join(
        "(%d, '%s')" % (i, t.replace("'", "''")) for i, t in ns["plants"])
    stop = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return f"""
        WITH all_docs AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT * FROM (VALUES {prows}) AS p(doc_id, text)),
        w AS (
            SELECT doc_id, text,
                   list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '') AS ws
            FROM all_docs),
        m AS (
            SELECT doc_id, text, ws, len(ws) AS n,
                   COALESCE(list_sum(list_transform(ws,
                       x -> length(x))), 0) AS chars,
                   length(text) - length(replace(text, '#', ''))
                       AS hashes,
                   (length(text)
                    - length(replace(text, '...', ''))) // 3
                       AS ellipses,
                   len(list_filter(ws,
                       x -> lower(x) <> upper(x))) AS alpha,
                   len(list_filter([{stop}],
                       s -> list_contains(list_transform(ws,
                           x -> lower(x)), s))) AS n_stop
            FROM w),
        r AS (
            SELECT doc_id, n,
                   CASE WHEN n > 0 THEN chars / n ELSE 0.0 END AS ml,
                   CASE WHEN n > 0 THEN (hashes + ellipses) / n
                        ELSE 0.0 END AS sr,
                   CASE WHEN n > 0 THEN alpha / n ELSE 0.0 END AS af,
                   n_stop
            FROM m)
        SELECT doc_id, CAST(n AS INT) AS n_words,
               round(ml, 4) AS mean_word_len,
               round(sr, 4) AS symbol_word_ratio,
               round(af, 4) AS alpha_word_frac,
               CAST(n_stop AS INT) AS n_stopwords,
               n >= {GOPHER_MIN_WORDS} AND n <= {GOPHER_MAX_WORDS}
                   AS ok_word_count,
               ml >= {GOPHER_MIN_MEAN_LEN} AND ml <= {GOPHER_MAX_MEAN_LEN}
                   AS ok_mean_len,
               sr < {GOPHER_MAX_SYMBOL_RATIO} AS ok_symbol_ratio,
               af >= {GOPHER_MIN_ALPHA_FRAC} AS ok_alpha,
               n_stop >= {GOPHER_MIN_STOPWORDS} AS ok_stopwords,
               (n >= {GOPHER_MIN_WORDS} AND n <= {GOPHER_MAX_WORDS})
               AND (ml >= {GOPHER_MIN_MEAN_LEN}
                    AND ml <= {GOPHER_MAX_MEAN_LEN})
               AND sr < {GOPHER_MAX_SYMBOL_RATIO}
               AND af >= {GOPHER_MIN_ALPHA_FRAC}
               AND n_stop >= {GOPHER_MIN_STOPWORDS} AS gopher_pass
        FROM r ORDER BY doc_id
    """


ORACLES["gopher_report"] = _gopher_report_oracle()


# sitemap discovery twin (urls.robots_sitemaps): Sitemap: lines are
# class constants in the synthesized robots corpus — class 1 declares
# one, class 4 declares two (one ABOVE any group, one inside: the
# directive is group-independent); classes 0/2/3 none.
ORACLES["robots_sitemaps"] = """
    WITH hosts AS (
        SELECT 's' || CAST(k AS VARCHAR) || '.example' AS host,
               CAST(k % 5 AS INT) AS cls
        FROM (SELECT unnest(range(0, 11)) AS k)),
    sm AS (
        SELECT host, 0 AS pos,
               'https://cdn.example/sitemap-news.xml' AS sitemap
        FROM hosts WHERE cls = 1
        UNION ALL
        SELECT host, 0, 'https://cdn.example/s1.xml'
        FROM hosts WHERE cls = 4
        UNION ALL
        SELECT host, 1, 'https://cdn.example/s2.xml'
        FROM hosts WHERE cls = 4)
    SELECT host, CAST(pos AS INT) AS pos, sitemap
    FROM sm ORDER BY host, pos
"""


# recrawl scheduling twin (urls.recrawl_schedule): the crawl_diff twin's
# cycles re-aggregated per host with the same rate/priority thresholds.
ORACLES["recrawl_schedule"] = """
    WITH old AS (
        SELECT 'https://s' || CAST(doc_id % 11 AS VARCHAR)
               || '.example/p/' || CAST(doc_id AS VARCHAR) AS url,
               md5(text) AS od
        FROM documents),
    new AS (
        SELECT 'https://s' || CAST(doc_id % 11 AS VARCHAR)
               || '.example/p/' || CAST(doc_id AS VARCHAR) AS url,
               CASE WHEN doc_id % 17 = 5 THEN md5(text || 'v2')
                    ELSE md5(text) END AS nd
        FROM documents WHERE doc_id % 17 <> 3
        UNION ALL
        SELECT 'https://s' || CAST(doc_id % 11 AS VARCHAR)
               || '.example/new/' || CAST(doc_id AS VARCHAR) AS url,
               md5('new:' || text) AS nd
        FROM documents WHERE doc_id % 17 = 7),
    d AS (
        SELECT COALESCE(old.url, new.url) AS url,
               CASE WHEN od IS NULL THEN 'added'
                    WHEN nd IS NULL THEN 'removed'
                    WHEN od = nd THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM old FULL OUTER JOIN new ON old.url = new.url),
    h AS (
        SELECT lower(regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1))
                   AS host, status
        FROM d),
    agg AS (
        SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
               CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_changed,
               CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_added,
               CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_removed
        FROM h GROUP BY host)
    SELECT host, n_urls, n_changed, n_added, n_removed,
           round((n_changed + n_added + n_removed) / n_urls, 4)
               AS change_rate,
           CASE WHEN (n_changed + n_added + n_removed) / n_urls >= 0.5
                THEN 'high'
                WHEN (n_changed + n_added + n_removed) / n_urls >= 0.1
                THEN 'medium'
                ELSE 'low' END AS priority
    FROM agg ORDER BY host
"""


def _pack_texts_oracle() -> str:
    """GENERATED from the chunk/pack constants (twin of
    textdata.pack_texts): rebuild the chunk token lists, the md5
    bucket, the within-bucket cumsum, the per-pack slice arithmetic,
    and the ordered flatten + space join — byte-exact pack_text."""
    from .textdata import CHUNK_MAX_TOKENS, CHUNK_STRIDE, PACK_BUDGET as B

    bkt = ("(instr('0123456789abcdef',"
           " substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16"
           " + (instr('0123456789abcdef',"
           " substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)")
    return f"""
        WITH base AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '') AS toks
            FROM documents),
        sized AS (SELECT doc_id, toks, len(toks) AS n FROM base),
        chunks AS (
            SELECT doc_id,
                   CAST(s.start // {CHUNK_STRIDE} AS INT) AS chunk_id,
                   toks[s.start + 1 : s.start + {CHUNK_MAX_TOKENS}]
                       AS ctoks
            FROM sized, LATERAL unnest(generate_series(
                     0, greatest(n - 1, 0), {CHUNK_STRIDE})) AS s(start)),
        bk AS (
            SELECT doc_id, chunk_id, ctoks,
                   CAST({bkt} AS INT) AS bucket
            FROM chunks),
        cum AS (
            SELECT bucket, ctoks,
                   sum(len(ctoks)) OVER (
                       PARTITION BY bucket ORDER BY doc_id, chunk_id
                       ROWS UNBOUNDED PRECEDING) AS e
            FROM bk),
        spans AS (
            SELECT bucket, ctoks, e - len(ctoks) AS s, e
            FROM cum WHERE e > e - len(ctoks)),
        contrib AS (
            SELECT bucket, CAST(p.pack AS INT) AS pack,
                   greatest(p.pack * {B}, s) AS lo,
                   ctoks[CAST(greatest(p.pack * {B}, s) - s + 1 AS INT) :
                         CAST(least((p.pack + 1) * {B}, e) - s AS INT)]
                       AS part
            FROM spans, LATERAL unnest(generate_series(
                     CAST(s // {B} AS BIGINT),
                     CAST((e - 1) // {B} AS BIGINT))) AS p(pack)),
        packs AS (
            SELECT bucket, pack,
                   flatten(list(part ORDER BY lo)) AS ptoks
            FROM contrib GROUP BY bucket, pack)
        SELECT bucket, pack,
               CAST(len(ptoks) AS INT) AS n_tokens,
               array_to_string(ptoks, ' ') AS pack_text
        FROM packs ORDER BY bucket, pack
    """


ORACLES["pack_texts"] = _pack_texts_oracle()


def _trainset_packs_oracle() -> str:
    """GENERATED composition twin of the END-TO-END pipeline row
    (__spark_entry__._trainset_packs): the ENTIRE curate_full journey
    chain (this module's _curate_full_oracle, reused by string surgery
    on its final SELECT — unused leaf CTEs are never executed), then
    the keeps' chunking + packed-sequence assembly keyed by url (the
    pack_texts twin's slice arithmetic with md5(url) buckets)."""
    from .textdata import CHUNK_MAX_TOKENS, CHUNK_STRIDE, PACK_BUDGET as B

    full = _curate_full_oracle()
    cut = full.index("SELECT d3.url, d3.status")
    with_part = full[:cut].rstrip()
    # the WITH chain ends with "sp AS ( ... )\n" followed by the final
    # select we just cut; continue the chain with a comma
    bkt = ("(instr('0123456789abcdef', substr(md5(url), 1, 1)) - 1)"
           " * 16 + (instr('0123456789abcdef',"
           " substr(md5(url), 2, 1)) - 1)")
    return with_part + f""",
        tk AS (
            SELECT url,
                   list_filter(string_split_regex(t, '\\s+'),
                               x -> x <> '') AS toks
            FROM d3 WHERE decision = 'keep'),
        tsized AS (SELECT url, toks, len(toks) AS n FROM tk),
        tchunks AS (
            SELECT url,
                   CAST(s.start // {CHUNK_STRIDE} AS INT) AS chunk_id,
                   toks[s.start + 1 : s.start + {CHUNK_MAX_TOKENS}]
                       AS ctoks
            FROM tsized, LATERAL unnest(generate_series(
                     0, greatest(n - 1, 0), {CHUNK_STRIDE})) AS s(start)),
        tbk AS (
            SELECT url, chunk_id, ctoks, CAST({bkt} AS INT) AS bucket
            FROM tchunks),
        tcum AS (
            SELECT bucket, ctoks,
                   sum(len(ctoks)) OVER (
                       PARTITION BY bucket ORDER BY url, chunk_id
                       ROWS UNBOUNDED PRECEDING) AS e
            FROM tbk),
        tspans AS (
            SELECT bucket, ctoks, e - len(ctoks) AS s, e
            FROM tcum WHERE e > e - len(ctoks)),
        tcontrib AS (
            SELECT bucket, CAST(p.pack AS INT) AS pack,
                   greatest(p.pack * {B}, s) AS lo,
                   ctoks[CAST(greatest(p.pack * {B}, s) - s + 1 AS INT) :
                         CAST(least((p.pack + 1) * {B}, e) - s AS INT)]
                       AS part
            FROM tspans, LATERAL unnest(generate_series(
                     CAST(s // {B} AS BIGINT),
                     CAST((e - 1) // {B} AS BIGINT))) AS p(pack)),
        tpacks AS (
            SELECT bucket, pack,
                   flatten(list(part ORDER BY lo)) AS ptoks
            FROM tcontrib GROUP BY bucket, pack)
        SELECT bucket, pack,
               CAST(len(ptoks) AS INT) AS n_tokens,
               array_to_string(ptoks, ' ') AS pack_text
        FROM tpacks ORDER BY bucket, pack
    """


ORACLES["trainset_packs"] = _trainset_packs_oracle()
