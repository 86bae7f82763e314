package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 training-data-pipeline additions: PII redaction, deterministic
  * content-hash dataset splitting, and URL-canonicalization dedup — the
  * three standard web-corpus curation steps (C4 / RefinedWeb pipelines)
  * the surface didn't yet carry. All three are single-pass, shuffle-light
  * shapes: redaction is a pure projection, the split is a projection (its
  * proof obligation — dups co-split — lives in OpsSpec, not a shuffle),
  * and URL dedup shuffles only 16-byte-ish canonical keys.
  *
  * The synthetic corpus carries no natural PII or URLs, so both are
  * INJECTED deterministically from the row key on BOTH engines (the same
  * build-then-process pattern as [[graft.etl.AlbFixture]]): the oracle
  * constructs byte-identical input, so the compare exercises the scrub /
  * canonicalization logic itself, not a lucky absence of matches.
  */
object LlmOps5 {

  // PII patterns — RE2-safe (no backrefs/lookarounds) so Java regex and
  // DuckDB RE2 agree; applied in a fixed order (email, IPv4, phone) since
  // replacement output feeds the next pattern on both sides.
  private val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipPat    = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private val phonePat = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"

  val defs: Seq[QueryDef] = Seq(
    // PII redaction: email → <EMAIL>, IPv4 → <IP>, phone → <PHONE>.
    // At 100 TB this is the ideal operator: a zero-shuffle codegen'd
    // projection (three regexp_replace passes fused into one WholeStage
    // span), embarrassingly parallel, output partitioning = input
    // partitioning. The injected PII derives from doc_id so ~1/3 of docs
    // carry an email, 1/4 an IP, 1/5 a phone, with overlaps.
    QueryDef("q_scrub_pii",
      (s, d) => {
        val k = col("doc_id")
        val email = when(k % 3 === 0,
          concat(lit(" user"), (k % 1000).cast("string"), lit("@ex"),
            (k % 7).cast("string"), lit(".com"))).otherwise(lit(""))
        val ip = when(k % 4 === 0,
          concat(lit(" 10."), (k % 256).cast("string"), lit("."),
            (k % 200).cast("string"), lit("."), (k % 97).cast("string")))
          .otherwise(lit(""))
        val phone = when(k % 5 === 0,
          concat(lit(" +1-555-"), lpad((k % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))
        val raw = concat(col("text"), email, ip, phone)
        val scrubbed =
          regexp_replace(
            regexp_replace(
              regexp_replace(raw, emailPat, "<EMAIL>"),
              ipPat, "<IP>"),
            phonePat, "<PHONE>")
        Tables.documents(s, d).select(
          k,
          regexp_count(raw, lit(emailPat)).cast("long").as("n_email"),
          regexp_count(raw, lit(ipPat)).cast("long").as("n_ip"),
          regexp_count(raw, lit(phonePat)).cast("long").as("n_phone"),
          md5(scrubbed.cast("binary")).as("scrubbed_md5"),
          length(scrubbed).cast("long").as("scrubbed_len"))
          .orderBy("doc_id")
      },
      s"""WITH raw AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 3 = 0 THEN ' user' || (doc_id % 1000)::VARCHAR
              || '@ex' || (doc_id % 7)::VARCHAR || '.com' ELSE '' END
    || CASE WHEN doc_id % 4 = 0 THEN ' 10.' || (doc_id % 256)::VARCHAR
              || '.' || (doc_id % 200)::VARCHAR || '.' || (doc_id % 97)::VARCHAR ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN ' +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
    AS t
  FROM documents
)
SELECT doc_id,
  len(regexp_extract_all(t, '$emailPat'))::BIGINT AS n_email,
  len(regexp_extract_all(t, '$ipPat'))::BIGINT AS n_ip,
  len(regexp_extract_all(t, '$phonePat'))::BIGINT AS n_phone,
  md5(regexp_replace(regexp_replace(regexp_replace(t,
      '$emailPat', '<EMAIL>', 'g'),
      '$ipPat', '<IP>', 'g'),
      '$phonePat', '<PHONE>', 'g')) AS scrubbed_md5,
  length(regexp_replace(regexp_replace(regexp_replace(t,
      '$emailPat', '<EMAIL>', 'g'),
      '$ipPat', '<IP>', 'g'),
      '$phonePat', '<PHONE>', 'g'))::BIGINT AS scrubbed_len
FROM raw ORDER BY doc_id"""),

    // Deterministic train/val/test split keyed on CONTENT hash, not row
    // id: exact duplicates land in the same split by construction (no
    // train→test leakage through dups — the reason real pipelines split
    // this way; OpsSpec pins the property). md5's first 15 hex chars give
    // a 60-bit integer both engines derive identically (the repo's
    // standard mirrorable-hash idiom, [[graft.ops.Dedup]]). 80/10/10.
    // Zero shuffle: the assignment is a projection; downstream consumers
    // filter on `split` (a pushable predicate) rather than re-shuffling.
    QueryDef("q_split_hash",
      (s, d) => {
        val bucket = pmod(
          conv(substring(md5(col("text").cast("binary")), 1, 15), 16, 10)
            .cast("long"), lit(100L))
        Tables.documents(s, d).select(
          col("doc_id"),
          bucket.as("bucket"),
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"))
          .orderBy("doc_id")
      },
      """SELECT doc_id,
  ('0x' || substring(md5(text), 1, 15))::BIGINT % 100 AS bucket,
  CASE WHEN ('0x' || substring(md5(text), 1, 15))::BIGINT % 100 < 80 THEN 'train'
       WHEN ('0x' || substring(md5(text), 1, 15))::BIGINT % 100 < 90 THEN 'val'
       ELSE 'test' END AS split
FROM documents ORDER BY doc_id"""),

    // URL-canonicalization dedup: strip fragment, strip utm-only query
    // strings, lowercase the host (and ONLY the host), strip the trailing
    // slash — then keep one representative per canonical URL. The raw URLs
    // are built from o_orderkey with seeded noise (host case, trailing
    // slash, utm params, fragments) so ~6 raw variants collapse per
    // canonical target. Scale shape: the groupBy shuffles canonical-URL
    // keys only (short strings), count+min collapse map-side; at 100 TB
    // this is the exact-dedup pattern with a projection in front.
    QueryDef("q_dedup_url",
      (s, d) => {
        val k = col("o_orderkey")
        val host = when(k % 2 === 0, "Example.COM").otherwise("example.com")
        val trail = when(k % 3 === 0, "/").otherwise("")
        val query = when(k % 4 === 0, concat(lit("?utm_source=a"), (k % 5).cast("string")))
          .when(k % 4 === 1, concat(lit("?id="), (k % 11).cast("string")))
          .otherwise(lit(""))
        val frag = when(k % 5 === 0, "#sec").otherwise("")
        val raw = concat(lit("https://"), host, lit("/p/"),
          (k % 500).cast("string"), trail, query, frag)
        // canonicalization steps live in [[graft.functions.UrlCanon]] —
        // shared with the streaming incremental variant
        val canon = graft.functions.UrlCanon.canonicalize(raw)
        Tables.orders(s, d)
          .select(k, canon.as("canonical_url"))
          .groupBy("canonical_url")
          .agg(count(lit(1)).cast("long").as("n_raw"),
            min(k).cast("long").as("keep_key"))
          .orderBy("canonical_url")
      },
      """WITH raw AS (
  SELECT o_orderkey AS k,
    'https://' || CASE WHEN o_orderkey % 2 = 0 THEN 'Example.COM' ELSE 'example.com' END
      || '/p/' || (o_orderkey % 500)::VARCHAR
      || CASE WHEN o_orderkey % 3 = 0 THEN '/' ELSE '' END
      || CASE WHEN o_orderkey % 4 = 0 THEN '?utm_source=a' || (o_orderkey % 5)::VARCHAR
              WHEN o_orderkey % 4 = 1 THEN '?id=' || (o_orderkey % 11)::VARCHAR
              ELSE '' END
      || CASE WHEN o_orderkey % 5 = 0 THEN '#sec' ELSE '' END AS url
  FROM orders
), stripped AS (
  SELECT k, regexp_replace(regexp_replace(url, '#.*$', ''), '\?utm_[^#]*$', '') AS u
  FROM raw
), canon AS (
  SELECT k,
    'https://' || lower(regexp_extract(u, '^https://([^/]+)', 1))
      || regexp_replace(regexp_extract(u, '^https://[^/]+(.*)$', 1), '/(\?.*)?$', '\1')
    AS canonical_url
  FROM stripped
)
SELECT canonical_url, count(*)::BIGINT AS n_raw, min(k)::BIGINT AS keep_key
FROM canon GROUP BY 1 ORDER BY 1"""),

    // Inverted index with capped postings — the MapReduce-classic shape
    // that backs search and n-gram decontamination at corpus scale. Two
    // shuffles total over ONE scan: tokens → (term, doc_id) tf groupBy,
    // then one repartition-by-term under which BOTH the per-term stats
    // (df, total_tf: unbounded-frame window aggs) and the top-B ranking
    // (row_number) share a single sort — no self-join, no second scan.
    // The postings list is capped at B=5 by (tf DESC, doc_id) so no term
    // ever materializes an unbounded list (stopwords have df ≈ N; an
    // uncapped collect_list would be the skew OOM at 100 TB). df/total_tf
    // stay exact — computed before the cap filter.
    QueryDef("q_index_postings",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val tokens = Tables.documents(s, d).select(col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
        val tf = tokens.groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
        val byTerm = Window.partitionBy("term")
        val ranked = tf.select(col("term"), col("doc_id"), col("tf"),
          row_number().over(byTerm.orderBy(col("tf").desc, col("doc_id").asc))
            .as("rn"),
          count(lit(1)).over(byTerm).as("df"),
          sum(col("tf")).over(byTerm).as("total_tf"))
        ranked.filter(col("rn") <= 5)
          .groupBy("term")
          .agg(min("df").cast("long").as("df"),
            min("total_tf").cast("long").as("total_tf"),
            concat_ws(",", transform(
              array_sort(collect_list(struct(col("rn"), col("doc_id"), col("tf")))),
              e => concat(e.getField("doc_id").cast("string"), lit(":"),
                e.getField("tf").cast("string")))).as("postings_csv"))
          .orderBy("term")
      },
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         tf AS (SELECT term, doc_id, count(*) AS tf FROM t GROUP BY 1, 2),
         r AS (SELECT term, doc_id, tf,
                 row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rn,
                 count(*) OVER (PARTITION BY term) AS df,
                 sum(tf) OVER (PARTITION BY term) AS total_tf
               FROM tf)
         SELECT term, min(df)::BIGINT AS df, min(total_tf)::BIGINT AS total_tf,
           string_agg(doc_id::VARCHAR || ':' || tf::VARCHAR, ',' ORDER BY rn)
             AS postings_csv
         FROM r WHERE rn <= 5 GROUP BY term ORDER BY term"""),

    // BM25 ranking (k1=1.2, b=0.75, the always-positive +1 idf) — the
    // scoring half of the search story q_index_postings starts. The query
    // is corpus-derived (the 3 globally most frequent words, ties to the
    // lexicographically smaller) so the test needs no magic literals. All
    // model state that broadcasts is bounded: the 3 query terms, their
    // df rows, and one (n_docs, n_tokens) stats row; the only
    // corpus-scaled shuffle is tf⋈dl on doc_id. Determinism: naive
    // `tf + 1.2*(0.25 + 0.75*dl/avgdl)` float chains differed from
    // DuckDB by 1 ulp on ~17% of rows (its compiled a+b*c can fuse into
    // FMA; the JVM never does), so with k1=6/5 and b=3/4 both factors
    // are restructured as single divisions of EXACT BIGINTs:
    //   idf arg: (n-df+.5)/(df+.5)+1 = (2n+2)/(2df+1)
    //   tf sat:  (tf·11/5)/(tf + 3/10 + (9/10)·dl·n/T)
    //          = 22·tf·T / (10·tf·T + 3·T + 9·dl·n)
    // leaving only individually-rounded IEEE ops (div, ln via LnIeee,
    // mul) that both engines agree on bit-for-bit. The per-doc sum is a
    // word-sorted left fold — the q_text_unigram_nll recipe. (Integer
    // magnitudes stay below 2^53 up to ~10^14 corpus tokens; past that,
    // pre-reduce T/n to avgdl in decimal.)
    QueryDef("q_text_bm25",
      (s, d) => {
        graft.functions.LnIeee.register(s)
        val docs = Tables.documents(s, d)
        val tokens = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("word"))
        val tf = tokens.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
        val dl = tokens.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        val stats = docs.agg(count(lit(1)).as("n_docs"))
          .crossJoin(tokens.agg(count(lit(1)).as("n_tokens")))
        val qterms = tokens.groupBy("word").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("word").asc).limit(3).select("word")
        val dfq = tf.join(broadcast(qterms), "word")
          .groupBy("word").agg(count(lit(1)).as("df"))
        val idf = call_function("ln_ieee",
          (col("n_docs") * 2 + lit(2)).cast("double") / (col("df") * 2 + lit(1)))
        val num = col("tf") * lit(22L) * col("n_tokens")
        val den = col("tf") * lit(10L) * col("n_tokens") +
          lit(3L) * col("n_tokens") + lit(9L) * col("dl") * col("n_docs")
        val score = idf * (num.cast("double") / den)
        tf.join(broadcast(dfq), "word")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .select(col("doc_id"), col("word"), score.as("term"))
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_match"),
            array_sort(collect_list(struct(col("word"), col("term")))).as("wt"))
          .select(col("doc_id"), col("n_match"),
            aggregate(transform(col("wt"), e => e.getField("term")),
              lit(0.0), (a, x) => a + x).as("bm25"))
          .orderBy("doc_id")
      },
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         tf AS (SELECT doc_id, word, count(*) AS tf FROM t GROUP BY 1, 2),
         dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
         stats AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                          (SELECT count(*) FROM t) AS n_tokens),
         q AS (SELECT word FROM (SELECT word, count(*) AS cnt FROM t
                                 GROUP BY 1 ORDER BY cnt DESC, word LIMIT 3)),
         dfq AS (SELECT word, count(*) AS df FROM tf
                 WHERE word IN (SELECT word FROM q) GROUP BY 1),
         scored AS (
           SELECT doc_id, word,
             ln((n_docs * 2 + 2)::DOUBLE / (df * 2 + 1)) *
             ((tf * 22 * n_tokens)::DOUBLE /
              (tf * 10 * n_tokens + 3 * n_tokens + 9 * dl * n_docs)) AS term
           FROM tf JOIN dfq USING (word) JOIN dl USING (doc_id), stats),
         d AS (SELECT doc_id, count(*) AS n_match,
                 list_sort(list(struct_pack(word := word, term := term))) AS wt
               FROM scored GROUP BY 1)
         SELECT doc_id, n_match::BIGINT AS n_match,
           list_reduce(list_prepend(0.0,
             list_transform(wt, e -> struct_extract(e, 'term'))),
             (a, b) -> a + b) AS bm25
         FROM d ORDER BY doc_id"""),

    // Skew-safe TF-IDF — same output as q_text_tfidf (same oracle SQL),
    // different PLAN: the tf⋈df join keys on `word`, and real vocabularies
    // are Zipf — "the" alone carries ~5% of all occurrences, so a plain
    // shuffle-by-word sends billions of rows to one reducer at web scale
    // (the same fixed-key-space skew the round-8 scale re-measure
    // exposed in the old signature build). The canonical split: the HEAD
    // of the df table (top-H words by df — H=8 here, ~1e5 in production;
    // Zipf means the head covers most occurrences) broadcasts, so every
    // hot key bypasses the shuffle entirely; only the long tail — whose
    // per-key row counts are bounded by construction — takes the
    // shuffled join. A left-anti on the broadcast head splits df
    // without a second scan of it. PlanSpec pins head=broadcast,
    // tail=shuffled.
    QueryDef("q_text_tfidf_skewsafe",
      (s, d) => {
        graft.functions.LnIeee.register(s)
        val docs = Tables.documents(s, d)
        val tokens = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("word"))
        val tf = tokens.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
        val dfreq = tokens.select("doc_id", "word").distinct()
          .groupBy("word").agg(count(lit(1)).as("df"))
          .localCheckpoint(eager = false) // feeds head AND tail splits once
        val head = dfreq.orderBy(col("df").desc, col("word").asc).limit(8)
        val tailDf = dfreq.join(broadcast(head.select("word")), Seq("word"), "left_anti")
        val n = docs.agg(count(lit(1)).as("n"))
        val joined = tf.join(broadcast(head), "word")
          .unionByName(tf.join(tailDf.hint("SHUFFLE_HASH"), "word"))
        joined.crossJoin(broadcast(n))
          .select(col("doc_id"), col("word"), col("tf"),
            (col("tf") * call_function("ln_ieee",
              col("n").cast("double") / col("df"))).as("tfidf"))
          .orderBy("doc_id", "word")
      },
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         tf AS (SELECT doc_id, word, count(*) AS tf FROM t GROUP BY 1, 2),
         df AS (SELECT word, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents)
         SELECT doc_id, word, tf, tf * ln(n::DOUBLE / df) AS tfidf
         FROM tf JOIN df USING (word), n ORDER BY doc_id, word"""),

    // Per-source document cap — C4's "pages per domain" quota, the
    // anti-domination step that stops one crawler-friendly host from
    // owning the corpus. Keep the 20 longest docs per source (ties to the
    // smaller doc_id). Plans as WindowGroupLimit (the q_topk shape): the
    // per-group limit pushes below the shuffle, so each mapper forwards
    // at most 20 rows per source instead of everything.
    QueryDef("q_cap_per_source",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source")
          .orderBy(col("n_chars").desc, col("doc_id").asc)
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 20)
          .select(col("doc_id"), col("source"), col("n_chars"),
            col("rn").cast("long").as("rn"))
          .orderBy("doc_id")
      },
      """SELECT doc_id, source, n_chars, rn::BIGINT AS rn FROM (
           SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
           FROM documents) WHERE rn <= 20 ORDER BY doc_id"""),

    // Per-source corpus datacard — the composition report every released
    // training set ships with (doc counts, language spread, length
    // distribution). One groupBy over one scan; countDistinct(lang) is
    // safe because language cardinality is tiny (it rewrites to a
    // two-stage expand, both stages keyed on `source`). Determinism:
    // exact BIGINT sums, avg as exact-sum double division, percentiles
    // via Spark `percentile` == DuckDB `quantile_cont` (both interpolate
    // (1-g)·a + g·b on sorted values; n_chars is integral so the result
    // is exactly representable).
    QueryDef("q_stats_datacard",
      (s, d) => Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          countDistinct(col("lang")).cast("long").as("n_langs"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
          expr("percentile(n_chars, 0.5)").as("p50_chars"),
          expr("percentile(n_chars, 0.9)").as("p90_chars"),
          min(col("n_chars")).cast("long").as("min_chars"),
          max(col("n_chars")).cast("long").as("max_chars"),
          sum(when(col("n_chars") < 200, 1L).otherwise(0L)).cast("long")
            .as("n_short"))
        .orderBy("source"),
      """SELECT source, count(*)::BIGINT AS n_docs,
           count(DISTINCT lang)::BIGINT AS n_langs,
           sum(n_chars)::BIGINT AS total_chars,
           sum(n_chars)::DOUBLE / count(*) AS avg_chars,
           quantile_cont(n_chars, 0.5) AS p50_chars,
           quantile_cont(n_chars, 0.9) AS p90_chars,
           min(n_chars)::BIGINT AS min_chars,
           max(n_chars)::BIGINT AS max_chars,
           sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END)::BIGINT AS n_short
         FROM documents GROUP BY source ORDER BY source"""))
}
