package graft.catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.io.Tables

/** Text-analysis operators for the training-data-pipeline extension:
  * language ID (stopword-hit heuristic), quality scoring, token counting,
  * document fingerprinting. All pure `functions._` higher-order expressions —
  * per-row, shuffle-free, codegen'd: the ideal 100 TB shape (map-only over
  * the document scan, no state).
  */
object TextCatalog {

  private def toks(c: Column): Column = split(lower(c), " ")

  // shared with graft.corpus.Quality (the capstone's production gate must
  // score with the SAME seed lists t1/t7 are oracle-gated on)
  private[graft] val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "los", "se"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une"))

  private def hits(t: Column, lang: String): Column =
    size(filter(t, x => array_contains(array(stopwords(lang).map(lit): _*), x)))

  private def hitsSql(lang: String): String = {
    val lst = stopwords(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_filter(toks, x -> list_contains([$lst], x)))"
  }

  // ---- Shared bigram-LM machinery (t12 scoring, t16 buckets) ----------------
  // One helper drives both entries and both oracles (the t13 posture: the
  // two sides cannot drift). See t12's entry comment for the arithmetic
  // contract and the scale shape.

  /** DuckDB CTE prefix (no `WITH`) ending in `d(doc_id, n_bigrams,
    * score_sum)` — per-doc exact bigram-LM accumulators; `t(doc_id, toks)`
    * is also in scope for the doc universe. */
  private val bigramScoreSql: String = """
        t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                   FROM documents WHERE text IS NOT NULL),
        bi AS (
          SELECT doc_id, toks[i] AS a, toks[i + 1] AS b
          FROM t, unnest(range(1, len(toks))) AS u(i)),
        pc AS (SELECT a, b, COUNT(*) AS c_ab FROM bi GROUP BY 1, 2),
        uc AS (SELECT a, COUNT(*) AS c_a FROM bi GROUP BY 1),
        q AS (SELECT pc.a, pc.b, (pc.c_ab * 1000000) // uc.c_a AS q
              FROM pc JOIN uc USING (a)),
        d AS (
          SELECT bi.doc_id, COUNT(*) AS n_bigrams, CAST(SUM(q.q) AS BIGINT) AS score_sum
          FROM bi JOIN q ON bi.a = q.a AND bi.b = q.b
          GROUP BY 1)"""

  /** `(doc_id, n_bigrams, score_sum)` — the Spark twin of [[bigramScoreSql]]'s
    * `d`: corpus-trained bigram transition model, per-doc exact integer
    * accumulators. Docs with <2 tokens have no row (no scorable bigram). */
  private def bigramLmDocScores(spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val t = Tables.documentsFanned(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), toks(col("text")).as("toks"))
    // bigram instances built INSIDE the array (map-only): position i pairs
    // with i+1 via a 1-slice, like t11's windowed pairs at offset 1 only
    val bi = t.select(col("doc_id"), explode(flatten(
        transform(col("toks"), (x, i) =>
          transform(slice(col("toks"), i + 2, lit(1)),
            y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    // pc is MATERIALIZED: it feeds uc, the q
    // join's probe side, and (through q) the per-doc verify join — without
    // the cut the physical plan re-ran the full bigram explode + partial
    // aggregate once per consumer (three Generate towers in t12's before
    // plan). The pair-count table is vocab²-bounded (tiny next to the
    // instance stream), so one write + re-reads beat two extra corpus
    // explosions at any scale.
    val pc = graft.operators.Reuse.materialize(
      bi.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab")))
    // c(a·) = Σ_b c(a,b): roll the PAIR table up instead of re-scanning
    // the instance stream — the second aggregate runs over vocab²-sized
    // counts, not token-volume-sized instances (and Catalyst reuses pc's
    // exchange: a is a prefix of (a, b))
    val uc = pc.groupBy(col("a")).agg(sum(col("c_ab")).as("c_a"))
    // `div` = Spark's truncating integral division ≡ DuckDB `//` on
    // non-negative longs (the g3 idiom) — only reachable via SQL expr
    val q = pc.join(uc, Seq("a"))
      .select(col("a"), col("b"),
        expr("(c_ab * CAST(1000000 AS BIGINT)) div c_a").as("q"))
    bi.join(q, Seq("a", "b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("score_sum"))
  }

  /** RE2-safe PII patterns shared verbatim by the Spark and DuckDB sides of
    * t5. Literal dots are written as `[.]` character classes so the SAME
    * string is valid in a DuckDB `'...'` literal (backslashes literal), a
    * Spark SQL `'...'` literal (backslashes escape), and the Scala-side
    * regexp_replace API — no backslash anywhere, nothing to mis-escape. */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  private val PhoneRe = "555-[0-9]+-[0-9]+"
  private val Ipv4Re = "10[.][0-9]+[.][0-9]+[.][0-9]+"

  // merge count for v2 — declared BEFORE `all`: object vals initialize in
  // declaration order, and `all` evaluates bpeOracle(BpeMerges) eagerly
  private final val BpeMerges = 8

  // The learned merge table is a model ARTIFACT of the corpus (deterministic
  // in the input dir), so v2 and v3 share one training run per dir instead
  // of each paying the K iteration rounds; concurrent first callers wait
  // for the one run.
  private val learned = new Memo[String, Seq[graft.operators.BpeLearn.Merge]]
  private def learnedMerges(spark: org.apache.spark.sql.SparkSession, dir: String) =
    learned(dir) {
      val wc = graft.operators.BpeLearn.wordCounts(Tables.documentsFanned(spark, dir))
      graft.operators.BpeLearn.learn(wc, BpeMerges)
    }

  // hard-EM round count for v4 — like BpeMerges, declared before `all`
  // (unigramOracle(UnigramRounds) is evaluated eagerly when `all` builds)
  private final val UnigramRounds = 2

  // The trained unigram vocabulary is a model ARTIFACT of the corpus
  // (deterministic in the input dir) — same per-dir memoization as the BPE
  // merge table, so Verify/Bench/specs pay the two EM rounds once per dir.
  // The collected result is vocab-sized by construction: KeepK multi-char
  // pieces + the corpus alphabet.
  private val unigramTrained = new Memo[String, Seq[(String, Long, Long)]]
  private def unigramVocab(spark: org.apache.spark.sql.SparkSession, dir: String) =
    unigramTrained(dir) {
      graft.operators.UnigramLM.train(Tables.documentsFanned(spark, dir), UnigramRounds)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    }

  /** t1's scorer, shared with t13's evaluation: per-doc stopword hits per
    * language + the deterministic argmax chain. Map-only projection. */
  private def langPredicted(
      spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("toks"))
    t.select(col("doc_id"),
        hits(col("toks"), "en").as("en_hits"),
        hits(col("toks"), "es").as("es_hits"),
        hits(col("toks"), "de").as("de_hits"),
        hits(col("toks"), "fr").as("fr_hits"))
      .withColumn("predicted_lang",
        when(col("en_hits") >= col("es_hits") && col("en_hits") >= col("de_hits")
          && col("en_hits") >= col("fr_hits"), "en")
          .when(col("es_hits") >= col("de_hits") && col("es_hits") >= col("fr_hits"), "es")
          .when(col("de_hits") >= col("fr_hits"), "de")
          .otherwise("fr"))
  }

  /** t1's oracle subquery (scored + argmax), shared with t13's oracle. */
  private def langPredictedSql: String = s"""
        SELECT doc_id, en_hits, es_hits, de_hits, fr_hits,
               CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
                    WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
                    WHEN de_hits >= fr_hits THEN 'de'
                    ELSE 'fr' END AS predicted_lang
        FROM (SELECT doc_id,
                     ${hitsSql("en")} AS en_hits,
                     ${hitsSql("es")} AS es_hits,
                     ${hitsSql("de")} AS de_hits,
                     ${hitsSql("fr")} AS fr_hits
              FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents))"""

  val all: Seq[QueryDef] = Seq(

    // ---- T1: language identification --------------------------------------
    QueryDef(
      "t1_language_id",
      "North-star text analysis: stopword-hit language scoring with deterministic argmax chain",
      Some(langPredictedSql)) { (spark, dir) => langPredicted(spark, dir) },

    // ---- T2: quality scoring ----------------------------------------------
    QueryDef(
      "t2_quality_score",
      "North-star text analysis: length/stopword/type-token quality signals + additive gate score",
      Some(s"""
        SELECT doc_id, n_tokens, stopword_ratio, ttr,
               (CASE WHEN n_tokens BETWEEN 20 AND 200 THEN 1 ELSE 0 END
                + CASE WHEN stopword_ratio >= 0.05 THEN 1 ELSE 0 END
                + CASE WHEN ttr >= 0.3 THEN 1 ELSE 0 END) AS quality_score
        FROM (SELECT doc_id,
                     len(toks) AS n_tokens,
                     ${hitsSql("en")} * 1.0 / len(toks) AS stopword_ratio,
                     len(list_distinct(toks)) * 1.0 / len(toks) AS ttr
              FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents))
      """)) { (spark, dir) =>
      val t = Tables.documents(spark, dir).select(col("doc_id"), toks(col("text")).as("toks"))
      val sig = t.select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        (hits(col("toks"), "en") * lit(1.0) / size(col("toks"))).as("stopword_ratio"),
        (size(array_distinct(col("toks"))) * lit(1.0) / size(col("toks"))).as("ttr"))
      sig.withColumn("quality_score",
        when(col("n_tokens").between(20, 200), 1).otherwise(0)
          + when(col("stopword_ratio") >= 0.05, 1).otherwise(0)
          + when(col("ttr") >= 0.3, 1).otherwise(0))
    },

    // ---- T3: token counting (whitespace + BPE-ish regex) -------------------
    QueryDef(
      "t3_token_stats",
      "North-star text analysis: whitespace token count, BPE-ish regex token count, distinct count",
      Some("""
        SELECT doc_id,
               len(string_split(lower(text), ' ')) AS ws_tokens,
               len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens,
               len(list_distinct(string_split(lower(text), ' '))) AS distinct_tokens
        FROM documents
      """)) { (spark, dir) =>
      Tables.documents(spark, dir).select(
        col("doc_id"),
        size(split(lower(col("text")), " ")).as("ws_tokens"),
        size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).as("re_tokens"),
        size(array_distinct(split(lower(col("text")), " "))).as("distinct_tokens"))
    },

    // ---- T4: document fingerprinting ---------------------------------------
    QueryDef(
      "t4_fingerprint",
      "North-star text analysis: whole-doc md5 + min-sampled rolling 3-gram hash fingerprint (winnowing-style)",
      Some("""
        SELECT doc_id,
               md5(lower(trim(text))) AS content_hash,
               list_min(list_transform(range(1, greatest(len(toks) - 1, 1)),
                 i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS min_shingle_hash
        FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM documents)
      """)) { (spark, dir) =>
      // native shingle construction; md5-min over the (distinct) shingle
      // set equals the min over all windows — duplicates can't change a min
      val sh = graft.functions.WordShingles(col("text"), 3)
      Tables.documents(spark, dir).select(
        col("doc_id"),
        md5(lower(trim(col("text")))).as("content_hash"),
        when(size(sh) >= 1, array_min(transform(sh, x => md5(x))))
          .otherwise(lit(null).cast("string")).as("min_shingle_hash"))
    },

    // ---- T5: PII scrubbing -------------------------------------------------
    // The corpus fixtures carry no real PII, so each doc gets a
    // deterministic synthetic contact line first — the scrub then has
    // real matches to count and redact, and both engines inject/scrub the
    // identical text. Patterns are RE2-safe (no backrefs/lookaround) so
    // Java regex (Spark) and RE2 (DuckDB) agree; DuckDB needs the 'g' flag
    // to match Spark's replace-all semantics. Map-only, shuffle-free.
    QueryDef(
      "t5_pii_scrub",
      "North-star text analysis: PII redaction (emails/phones/IPv4) with per-kind match counts — the pre-training scrub pass, map-only at any corpus scale",
      Some(s"""
        WITH injected AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com or 555-' || CAST(doc_id AS VARCHAR)
                      || '-1234 from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS raw
          FROM documents)
        SELECT doc_id,
               len(regexp_extract_all(raw, '$EmailRe')) AS n_emails,
               len(regexp_extract_all(raw, '$PhoneRe')) AS n_phones,
               len(regexp_extract_all(raw, '$Ipv4Re')) AS n_ips,
               regexp_replace(regexp_replace(regexp_replace(raw,
                 '$EmailRe', '<EMAIL>', 'g'),
                 '$PhoneRe', '<PHONE>', 'g'),
                 '$Ipv4Re', '<IP>', 'g') AS scrubbed
        FROM injected
      """)) { (spark, dir) =>
      val raw = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 555-"), col("doc_id").cast("string"),
        lit("-1234 from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"))
      Tables.documents(spark, dir)
        .select(col("doc_id"), raw.as("raw"))
        .select(
          col("doc_id"),
          size(expr(s"regexp_extract_all(raw, '$EmailRe', 0)")).as("n_emails"),
          size(expr(s"regexp_extract_all(raw, '$PhoneRe', 0)")).as("n_phones"),
          size(expr(s"regexp_extract_all(raw, '$Ipv4Re', 0)")).as("n_ips"),
          regexp_replace(regexp_replace(regexp_replace(col("raw"),
            EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
            Ipv4Re, "<IP>").as("scrubbed"))
    },

    // ---- T6: repetition scoring --------------------------------------------
    QueryDef(
      "t6_repetition",
      "North-star text analysis: intra-document repetition ratio — 1 − distinct/total word-3-gram windows (the boilerplate/spam signal pretraining filters threshold on); map-only, shuffle-free",
      Some("""
        SELECT doc_id,
               n_windows,
               CASE WHEN n_windows > 0
                    THEN 1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_windows AS DOUBLE)
                    ELSE 0.0 END AS dup_ratio
        FROM (
          SELECT doc_id,
                 greatest(len(toks) - 2, 0) AS n_windows,
                 len(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 1, 1)),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS n_distinct
          FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents))
      """)) { (spark, dir) =>
      val nWindows = greatest(size(split(lower(col("text")), " ")) - 2, lit(0))
      val nDistinct = size(graft.functions.WordShingles(col("text"), 3))
      Tables.documents(spark, dir).select(
        col("doc_id"),
        nWindows.as("n_windows"),
        // WordShingles returns an EMPTY array for <3-token docs (null only
        // for null input) — the n_windows=0 branch covers that case anyway
        when(nWindows > 0,
          lit(1.0) - nDistinct.cast("double") / nWindows.cast("double"))
          .otherwise(0.0).as("dup_ratio"))
    },

    // ---- T7: Gopher-style quality gate -------------------------------------
    // The standard pretraining document filter battery (public: Rae et al.
    // "Scaling Language Models: ... Gopher", repeated by C4/FineWeb):
    // word-count bounds, mean word length bounds, symbol-to-word ratio,
    // alphabetic-word fraction, minimum stopword hits — ANDed into one
    // keep/drop gate. Every signal is a higher-order array expression over
    // the same token split: per-row, codegen'd, shuffle-free — at 100 TB
    // this is a pure scan-side gate that composes with any downstream
    // dedup without adding a stage. Float signals are derived from exact
    // integer counts with the SAME division tree on both engines, so the
    // doubles (and the gate) hash-match bit-for-bit.
    QueryDef(
      "t7_gopher_rules",
      "North-star text analysis: Gopher-rule quality gate — word count, mean word length, symbol ratio, alpha-word fraction, stopword floor, ANDed keep/drop flag",
      Some(s"""
        SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, stop_hits,
               CASE WHEN n_words BETWEEN 50 AND 100000
                     AND mean_word_len >= 3 AND mean_word_len <= 10
                     AND symbol_ratio <= 0.1
                     AND alpha_frac >= 0.8
                     AND stop_hits >= 2 THEN 1 ELSE 0 END AS passes_gopher
        FROM (
          SELECT doc_id,
                 len(toks) AS n_words,
                 list_aggregate(list_transform(toks, x -> len(x)), 'sum')
                   * 1.0 / len(toks) AS mean_word_len,
                 ((len(text) - len(replace(text, '#', '')))
                  + (len(text) - len(replace(text, '...', ''))) / 3)
                   * 1.0 / len(toks) AS symbol_ratio,
                 len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                   * 1.0 / len(toks) AS alpha_frac,
                 ${hitsSql("en")} AS stop_hits
          FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS toks
                FROM documents))
      """)) { (spark, dir) =>
      val t = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), toks(col("text")).as("toks"))
      val n = size(col("toks"))
      val sumLen = aggregate(col("toks"), lit(0), (acc, x) => acc + length(x))
      val hashCnt = length(col("text")) - length(replace(col("text"), lit("#"), lit("")))
      val ellCnt = (length(col("text"))
        - length(replace(col("text"), lit("..."), lit("")))) / lit(3)
      val alphaCnt = size(filter(col("toks"), x => x.rlike("[a-z]")))
      val sig = t.select(col("doc_id"),
        n.as("n_words"),
        (sumLen * lit(1.0) / n).as("mean_word_len"),
        ((hashCnt + ellCnt) * lit(1.0) / n).as("symbol_ratio"),
        (alphaCnt * lit(1.0) / n).as("alpha_frac"),
        hits(col("toks"), "en").as("stop_hits"))
      sig.withColumn("passes_gopher",
        when(col("n_words").between(50, 100000)
          && col("mean_word_len") >= 3 && col("mean_word_len") <= 10
          && col("symbol_ratio") <= 0.1
          && col("alpha_frac") >= 0.8
          && col("stop_hits") >= 2, 1).otherwise(0))
    },

    // ---- V1: tokenizer vocabulary build ------------------------------------
    // The first step of training any tokenizer (BPE, WordPiece, unigram) is
    // the same corpus-wide job: count every candidate token, apply a
    // minimum-frequency floor, keep the top-k by count, assign dense ids.
    // Shape matters at 100 TB: token counting is a partial-aggregated
    // groupBy (map-side combine shrinks the shuffle to the distinct-token
    // set), and the top-k is orderBy(...).limit(k) — Spark plans that as
    // TakeOrderedAndProject, a per-partition bounded heap + driver merge of
    // k rows, NOT a global sort. Only then does the dense-id window run,
    // over at most k rows — the single-partition window is bounded by the
    // LIMIT, never by the corpus.
    QueryDef(
      "v1_vocab_build",
      "North-star text analysis: tokenizer vocab build — corpus token counts, min-frequency floor, top-k (count desc, token tiebreak), dense id assignment",
      Some("""
        WITH counts AS (
          SELECT t AS token, COUNT(*) AS cnt
          FROM (SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents)
          GROUP BY 1
          HAVING COUNT(*) >= 5),
        ranked AS (
          SELECT token, cnt,
                 ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rn
          FROM counts)
        SELECT token, cnt, rn - 1 AS token_id
        FROM ranked WHERE rn <= 1000
      """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.documentsFanned(spark, dir)
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 5)
      val top = counts.orderBy(col("cnt").desc, col("token")).limit(1000)
      // constant-but-non-foldable partition key over the top-1000 rows: a
      // bare literal is stripped by EliminateWindowPartitions, and `x*0`
      // over the non-nullable cnt/length folds to 0 — but pmod(cnt, 1)
      // (= 0 for every count) has no simplification rule, so the single
      // constant partition survives and the "No Partition Defined" warning
      // channel stays reserved for genuinely unbounded windows
      top.withColumn("token_id",
        row_number().over(
          Window.partitionBy(pmod(col("cnt"), lit(1L)))
            .orderBy(col("cnt").desc, col("token"))) - 1)
    },

    // ---- T8: BM25 keyword scoring ------------------------------------------
    // The retrieval half of a corpus pipeline: score every document against
    // a keyword query with BM25 (public: Robertson–Spärck Jones; the
    // default ranking function of Lucene/ES). Collection statistics
    // (per-term document frequency, average doc length) are ONE fixed-size
    // aggregate — a handful of numbers whatever the corpus, collected and
    // embedded as literals (the b1 bloom posture), so scoring itself is a
    // single map-only scan: per-doc term frequencies from the token array,
    // the score a pure expression. Cross-engine float determinism: idf is
    // the RATIONAL RSJ weight (N − df + 0.5)/(df + 0.5) — no ln(), whose
    // last-ulp rounding differs across libm implementations — and every
    // double derives from integer counts through the SAME expression tree
    // on both engines, summed in fixed term order.
    QueryDef(
      "t8_bm25_score",
      "BM25 keyword scoring (rational RSJ idf, k1=1.2 b=0.75): collection stats as one fixed-size aggregate, then a map-only scoring scan; matching docs with per-term tfs and the score",
      Some("""
        WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                   FROM documents WHERE text IS NOT NULL),
        -- every non-exact literal is CAST to DOUBLE: DuckDB types bare 1.0 /
        -- 2.2 / 1.2 as DECIMAL and would take an exact-decimal arithmetic
        -- path Spark's doubles can't reproduce (0.5/0.25/0.75 are
        -- binary-exact either way and may stay bare)
        stats AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avgdl,
                 CAST(SUM(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END) AS DOUBLE) AS df_spark,
                 CAST(SUM(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS DOUBLE) AS df_join,
                 CAST(SUM(CASE WHEN list_contains(toks, 'window') THEN 1 ELSE 0 END) AS DOUBLE) AS df_window
          FROM t),
        tf AS (
          SELECT doc_id, len(toks) AS dl,
                 len(list_filter(toks, x -> x = 'spark')) AS tf_spark,
                 len(list_filter(toks, x -> x = 'join')) AS tf_join,
                 len(list_filter(toks, x -> x = 'window')) AS tf_window
          FROM t)
        SELECT doc_id, tf_spark, tf_join, tf_window,
               ((n - df_spark + 0.5) / (df_spark + 0.5))
                 * (tf_spark * CAST(2.2 AS DOUBLE))
                 / (tf_spark + CAST(1.2 AS DOUBLE) * (0.25 + 0.75 * dl / avgdl))
             + ((n - df_join + 0.5) / (df_join + 0.5))
                 * (tf_join * CAST(2.2 AS DOUBLE))
                 / (tf_join + CAST(1.2 AS DOUBLE) * (0.25 + 0.75 * dl / avgdl))
             + ((n - df_window + 0.5) / (df_window + 0.5))
                 * (tf_window * CAST(2.2 AS DOUBLE))
                 / (tf_window + CAST(1.2 AS DOUBLE) * (0.25 + 0.75 * dl / avgdl))
               AS bm25
        FROM tf, stats
        WHERE tf_spark + tf_join + tf_window > 0
      """)) { (spark, dir) =>
      val terms = Seq("spark", "join", "window")
      // null-text guard symmetric with the oracle's WHERE: a null token
      // array would otherwise hit sum(size(...)) null/-1 asymmetries
      val t = Tables.documents(spark, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), toks(col("text")).as("toks"))
      // ONE fixed-size reduction: N, avg doc length, per-term doc freq —
      // five numbers regardless of corpus size
      val statsRow = t.agg(
        (count(lit(1)) * lit(1.0)).as("n"),
        (sum(size(col("toks"))) * lit(1.0) / count(lit(1))).as("avgdl"),
        (sum(when(array_contains(col("toks"), terms(0)), 1).otherwise(0)) * lit(1.0)).as("df0"),
        (sum(when(array_contains(col("toks"), terms(1)), 1).otherwise(0)) * lit(1.0)).as("df1"),
        (sum(when(array_contains(col("toks"), terms(2)), 1).otherwise(0)) * lit(1.0)).as("df2"))
        .head
      val n = statsRow.getDouble(0); val avgdl = statsRow.getDouble(1)
      val dfs = Seq(statsRow.getDouble(2), statsRow.getDouble(3), statsRow.getDouble(4))
      val dl = size(col("toks"))
      def tf(term: String): Column =
        size(filter(col("toks"), x => x === term))
      // same parenthesization as the oracle — the doubles must be identical
      def termScore(tfc: Column, df: Double): Column =
        lit((n - df + 0.5) / (df + 0.5)) *
          (tfc * lit(2.2)) /
          (tfc + lit(1.2) * (lit(0.25) + lit(0.75) * dl / lit(avgdl)))
      val scored = t.select(col("doc_id"), col("toks"),
        tf(terms(0)).as("tf_spark"), tf(terms(1)).as("tf_join"),
        tf(terms(2)).as("tf_window"))
      scored
        .filter(col("tf_spark") + col("tf_join") + col("tf_window") > 0)
        .select(col("doc_id"), col("tf_spark"), col("tf_join"), col("tf_window"),
          (termScore(col("tf_spark"), dfs(0))
            + termScore(col("tf_join"), dfs(1))
            + termScore(col("tf_window"), dfs(2))).as("bm25"))
    },

    // ---- T9: overlapping document chunking ---------------------------------
    // Context-window prep for training/RAG ingestion: fixed word windows
    // (W=64) advanced by a stride (S=48, i.e. 16 words of overlap) so no
    // boundary context is lost. Map-only: tokenize once, derive the chunk
    // count arithmetically, explode a chunk-index sequence, slice the token
    // array per index — no shuffle, no state, fanout bounded by ~n/S chunks
    // per doc. At 100 TB this is a scan-shaped stage like t1-t7; the chunk
    // rows feed x8 sequence packing downstream.
    QueryDef(
      "t9_chunk_overlap",
      "Training-pipeline chunking: overlapping W=64/S=48 word windows per doc — chunk index, word count, and the chunk text, derived in one map-only pass",
      Some("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                   FROM documents WHERE text IS NOT NULL),
        d AS (SELECT doc_id, toks, len(toks) AS n,
                     1 + CAST(floor((greatest(len(toks) - 64, 0) + 47) / 48.0) AS BIGINT) AS nchunks
              FROM t WHERE len(toks) > 0),
        e AS (SELECT doc_id, toks, n, unnest(range(0, nchunks)) AS i FROM d)
        SELECT doc_id,
               i AS chunk_idx,
               least(64, n - i * 48) AS n_words,
               array_to_string(list_slice(toks, i * 48 + 1, i * 48 + 64), ' ') AS chunk_text
        FROM e
      """)) { (spark, dir) =>
      val W = 64; val S = 48
      Tables.documentsFanned(spark, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")))
        .filter(col("n") > 0)
        // last chunk starts at the greatest multiple of S with words left:
        // 1 + ceil(max(0, n-W) / S), computed in exact integer arithmetic
        .withColumn("nchunks",
          (lit(1) + floor((greatest(col("n") - W, lit(0)) + (S - 1)) / S)).cast("long"))
        .select(col("doc_id"), col("toks"), col("n"),
          explode(sequence(lit(0L), col("nchunks") - 1)).as("chunk_idx"))
        .select(
          col("doc_id"),
          col("chunk_idx"),
          least(lit(W), col("n") - col("chunk_idx") * S).cast("long").as("n_words"),
          array_join(slice(col("toks"), (col("chunk_idx") * S + 1).cast("int"), lit(W)), " ")
            .as("chunk_text"))
    },

    // ---- V2: BPE merge learning -------------------------------------------
    // Tokenizer TRAINING (v1 counts whole words; this learns the subword
    // merge table): Sennrich ACL'16 byte-pair encoding, K merges. The Spark
    // side touches the corpus once (word counts) and iterates on the
    // vocab-sized word table (graft.operators.BpeLearn — scale notes there).
    // The DuckDB oracle is the SAME K iterations UNROLLED as generated CTE
    // layers (pair-count → argmax → two-pass merge rewrite per layer), so
    // the full iterative result — not just round one — is hash-gated.
    // Determinism: exact integer pair counts, (count DESC, left, right)
    // argmax tiebreak, and an identical two-pass non-overlapping replace as
    // the merge rewrite on both engines (contract in BpeLearn's scaladoc).
    QueryDef(
      "v2_bpe_merges",
      "North-star tokenizer training: first 8 BPE merges over the document corpus — corpus-pass word counts, then pair-count/argmax/rewrite iterations on the vocab-sized word table",
      Some(bpeOracle(BpeMerges))) { (spark, dir) =>
      spark.createDataFrame(learnedMerges(spark, dir)).orderBy("merge_rank")
    },

    // ---- V3: BPE tokenization ---------------------------------------------
    // The inference half of v2: apply the learned merge table and emit the
    // resulting SUBWORD vocabulary with exact corpus frequencies (v1 is the
    // word-level vocab; this is what the corpus looks like to the model).
    // Spark side: the K merges fold into ONE map-only projection over the
    // vocab-sized word table — no per-merge jobs at tokenization time.
    // Oracle: the same unrolled layers as v2; `w8` IS the tokenized word
    // table, so the final aggregate just explodes its renderings.
    QueryDef(
      "v3_bpe_tokenize",
      "North-star tokenizer inference: corpus subword frequencies after applying the 8 learned BPE merges — the merge chain folded into one map-only rewrite of the word table",
      Some(bpeOracle(BpeMerges,
        finalSelect = Some(s"""
      SELECT t AS token, CAST(SUM(cnt) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(w, ' ')) AS t, cnt FROM w$BpeMerges)
      GROUP BY 1""")))) { (spark, dir) =>
      val wc = graft.operators.BpeLearn.wordCounts(Tables.documentsFanned(spark, dir))
      val words = graft.operators.BpeLearn.applyMerges(
        graft.operators.BpeLearn.initialSymbols(wc), learnedMerges(spark, dir))
      words.select(explode(split(col("w"), " ")).as("token"), col("cnt"))
        .groupBy("token").agg(sum("cnt").as("freq"))
    },

    // ---- V4: unigram-LM tokenizer training ----------------------------------
    // The OTHER public subword family next to BPE (Kudo ACL'18, what
    // SentencePiece trains by default): seed a substring vocabulary,
    // Viterbi-segment under integer log-probability scores, re-estimate
    // usage from the segmentations (hard EM), prune to top-KeepK multi-char
    // pieces + full character coverage, repeat. graft.operators.UnigramLM
    // carries the scale contract (corpus touched once; seeding, scoring,
    // segmentation, pruning all on the vocab-sized word table; the Viterbi
    // DP unrolled to MaxWord=12 as one map-only projection; one driver Long
    // per round). The oracle unrolls the SAME two EM rounds as generated
    // CTE layers — substring seed, bit-length scores off a scalar-subquery
    // total, the 42-column (s,k) score grid, the 12-position DP with the
    // longer-piece tiebreak, the backpointer walk, usage re-estimation and
    // the prune — so the full iterative result is hash-gated end to end
    // (the v2 posture). Integer-exact: scores are bit-lengths of the
    // 2^20-scaled relative frequency, shifted by −21 into a log2-probability
    // proxy (UnigramLM scaladoc explains why the shift is load-bearing);
    // both engines compute the identical integers.
    QueryDef(
      "v4_unigram_lm",
      "North-star tokenizer training: unigram-LM (SentencePiece/Kudo 2018) — 2 hard-EM rounds of Viterbi segmentation under integer bit-length scores over the document corpus; final scored vocabulary (piece, usage, bits), oracle = the same rounds unrolled as CTE layers",
      Some(unigramOracle(UnigramRounds))) { (spark, dir) =>
      spark.createDataFrame(unigramVocab(spark, dir)).toDF("piece", "c", "bits")
    },

    // ---- V5: unigram-LM tokenization ----------------------------------------
    // The inference half of v4 — v3's relationship to v2: Viterbi-segment
    // the corpus under the TRAINED vocabulary (v4's memoized artifact,
    // rebuilt as a literal frame — model scoring tables are bounded:
    // KeepK multis + the alphabet) and emit the corpus subword frequencies,
    // what the corpus looks like to a model tokenized this way. ONE extra
    // unrolled Viterbi projection over the vocab-sized word table — the
    // corpus is touched only by the word-count shuffle; nothing iterates.
    // Oracle: v4's layers plus one UNPRUNED round whose usage CTE is the
    // answer — so training AND inference segmentation are hash-gated as
    // one chain. Scope contract inherited from v4 (and mirrored in the
    // oracle): words longer than MaxWord are out of the tokenizer's
    // segmentation domain and contribute no subword counts.
    QueryDef(
      "v5_unigram_tokenize",
      "North-star tokenizer inference: corpus subword frequencies under the v4-trained unigram-LM vocabulary — one map-only unrolled Viterbi pass over the word table, weighted usage as (token, freq); oracle = v4's rounds + one unpruned segmentation round",
      Some(unigramOracle(UnigramRounds, tokenize = true))) { (spark, dir) =>
      val wc = graft.operators.UnigramLM.wordCounts(Tables.documentsFanned(spark, dir))
      val subs = graft.operators.UnigramLM.substrings(wc)
      val pieces = spark.createDataFrame(unigramVocab(spark, dir)).toDF("piece", "c", "bits")
      graft.operators.UnigramLM.viterbiUsage(subs, pieces)
        .select(col("piece").as("token"), col("c").as("freq"))
    },

    // ---- T10: per-document TF-IDF keywords ---------------------------------
    // Keyword extraction — the per-doc summary signal next to t8's QUERY
    // scoring: t8 ranks docs for fixed terms, t10 ranks terms for every
    // doc. Full inverted-index shape: explode tokens once, tf per
    // (doc, term) and df per term off that stream, score, one per-doc
    // argmax window (rank ≤ 3 pushes map-side as WindowGroupLimit). The
    // idf is t8's RATIONAL RSJ form ((N - df + 0.5)/(df + 0.5)) — no
    // ln(), whose libm rounding may differ across engines; exact integer
    // inputs → the identical pinned double expression both sides. The df
    // table is vocab-sized (broadcast); at 100 TB the (doc, term) stream
    // is the standard inverted-index shuffle, and nothing else grows.
    QueryDef(
      "t10_tfidf_keywords",
      "Per-document top-3 TF-IDF keywords: inverted-index tf/df off one token explode, rational RSJ idf (no engine-specific ln), per-doc argmax window with (score desc, term asc) total order",
      Some("""
        WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                   FROM documents WHERE text IS NOT NULL),
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM t),
        tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
               FROM tok GROUP BY 1),
        scored AS (
          SELECT tf.doc_id, tf.term, tf.tf,
                 tf.tf * ((n.n - df.df + 0.5) / (df.df + 0.5)) AS score
          FROM tf JOIN df USING (term), n)
        SELECT doc_id, kw_rank, term, tf, score FROM (
          SELECT doc_id, term, tf, score,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, term ASC) AS kw_rank
          FROM scored)
        WHERE kw_rank <= 3
      """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables.documentsFanned(spark, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), toks(col("text")).as("toks"))
      val tok = t.select(col("doc_id"), explode(col("toks")).as("term"))
      // df derived FROM tf (round-16): tf already holds one row per
      // (doc, term), so COUNT(*) per term ≡ COUNT(DISTINCT doc_id) over the
      // raw stream. Round-17: tf is MATERIALIZED (guide §2.4/§3.3) — it
      // feeds the df rollup AND the scoring join, and column pruning split
      // the two consumers' exchanges, so the token explode + inverted-index
      // aggregate ran once per branch. One write of the (doc, term, tf)
      // index (the artifact a production pipeline persists anyway) halves
      // the corpus passes; df is now a rollup over the index files.
      val tf = graft.operators.Reuse.materialize(
        tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
      val dfT = tf.groupBy(col("term"))
        .agg(count(lit(1)).cast("double").as("df"))
      // N as a one-row reduction collected once (the t8 stats posture):
      // a scalar, not per-row driver state
      val n = t.agg(count(lit(1)).cast("double")).head.getDouble(0)
      val score = col("tf") * ((lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      val best = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term").asc)
      // No broadcast hint on the df table: it is vocabulary-sized, fine to
      // broadcast at fixture scale (AQE picks that itself) but billions of
      // rows at web-corpus vocabulary — a forced hint there is an OOM where
      // the un-hinted plan degrades gracefully to a shuffle join.
      tf.join(dfT, Seq("term"))
        .withColumn("score", score)
        .withColumn("kw_rank", row_number().over(best))
        .filter(col("kw_rank") <= 3)
        .select(col("doc_id"), col("kw_rank"), col("term"), col("tf"), col("score"))
    },

    // ---- T11: PMI co-occurrence statistics ----------------------------------
    // The word2vec/GloVe-style corpus statistic: how much more often do two
    // words appear within a ±2 window than independence predicts. Pair
    // extraction is MAP-ONLY (pairs built inside the token array like
    // shingling — no positional self-join), then one pair-keyed count, two
    // broadcast unigram joins, and the PMI RATIO in pinned double order —
    // rational like t8/t10's idf (no ln: the ratio orders identically and
    // libm can't drift it). pair_n >= 5 bounds the output to the signal;
    // at corpus scale this is the standard inverted co-occurrence shuffle,
    // keyed on word pairs; the vocab-sized unigram joins are left un-hinted
    // so AQE broadcasts them only while they actually fit.
    QueryDef(
      "t11_pmi_cooccurrence",
      "PMI co-occurrence (word2vec-style corpus stats): ordered word pairs within a +1/+2 window, map-only pair extraction, pair counts >= 5 with the independence ratio (pair_n*N)/(cnt_l*cnt_r) in pinned double order — rational PMI, no ln",
      Some("""
        WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                   FROM documents WHERE text IS NOT NULL),
        n AS (SELECT CAST(SUM(len(toks)) AS DOUBLE) AS total FROM t),
        uni AS (
          SELECT tok, COUNT(*) AS cnt
          FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
        pairs AS (
          SELECT toks[i] AS left_tok, toks[i + o] AS right_tok, COUNT(*) AS pair_n
          FROM t,
               unnest(range(1, greatest(len(toks), 1))) AS u(i),
               unnest(range(1, 3)) AS v(o)
          WHERE i + o <= len(toks)
          GROUP BY 1, 2)
        SELECT p.left_tok, p.right_tok, p.pair_n,
               (p.pair_n * 1.0 * n.total) / (l.cnt * 1.0 * r.cnt) AS pmi_ratio
        FROM pairs p
        JOIN uni l ON p.left_tok = l.tok
        JOIN uni r ON p.right_tok = r.tok
        CROSS JOIN n
        WHERE p.pair_n >= 5
      """)) { (spark, dir) =>
      val t = Tables.documentsFanned(spark, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), toks(col("text")).as("toks"))
      // pairs built INSIDE the array (flatten of per-position 1/2-offset
      // slices) — map-only, no positional self-join, explode() emits
      // nothing for docs shorter than the window
      val pairs = t.select(explode(flatten(
          transform(col("toks"), (x, i) =>
            transform(slice(col("toks"), i + 2, lit(2)),
              y => struct(x.as("left_tok"), y.as("right_tok")))))).as("p"))
        .groupBy(col("p.left_tok").as("left_tok"), col("p.right_tok").as("right_tok"))
        .agg(count(lit(1)).as("pair_n"))
        .filter(col("pair_n") >= 5)
      val uni = t.select(explode(col("toks")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val total = t.agg(sum(size(col("toks"))).cast("double")).head.getDouble(0)
      // Unigram joins un-hinted for the same reason as t10's df table: the
      // unigram count table is vocabulary-sized — AQE broadcasts it at any
      // TPC-H sf, but a web corpus' distinct-token table must be allowed to
      // fall back to a shuffle join.
      pairs
        .join(uni.select(col("tok").as("left_tok"), col("cnt").as("lcnt")),
          Seq("left_tok"))
        .join(uni.select(col("tok").as("right_tok"), col("cnt").as("rcnt")),
          Seq("right_tok"))
        .select(col("left_tok"), col("right_tok"), col("pair_n"),
          ((col("pair_n") * lit(1.0) * lit(total))
            / (col("lcnt") * lit(1.0) * col("rcnt"))).as("pmi_ratio"))
    },

    // ---- T12: bigram-LM quality score (the CCNet/KenLM filter shape) -------
    // Model-based quality filtering: train a bigram language model ON the
    // corpus, score every document by how typical its token transitions are,
    // gate on the score — the shape CCNet uses with a KenLM 5-gram model.
    // Engine-exact posture (g1/g3): each transition probability
    // p(b|a) = c(a,b)/c(a·) is quantized to integer MICRO-PROB units via
    // truncating division (`div` ≡ DuckDB `//` on non-negatives), and the
    // per-doc score is a SUM OF INTEGERS — commutative, so no double
    // summation order and no ln() (libm's last ulp differs across engines;
    // a mean quantized probability orders documents the same way mean log
    // prob does for gating purposes). Scale shape: bigram extraction is
    // map-only inside the token array (t11's trick — no positional
    // self-join); the model is two pair/unigram-keyed aggregates; scoring
    // re-keys the instance stream on the pair — at web scale that is the
    // standard inverted co-occurrence shuffle, and the model join is
    // shuffle-hash on (a,b) since a 5-gram table outgrows a broadcast.
    // Docs with <2 tokens can't be scored: kept with n_bigrams=0, NULL
    // mean, keep=false — accounted for, never silently dropped.
    QueryDef(
      "t12_bigram_lm_score",
      "Bigram-LM quality filter (CCNet/KenLM shape): corpus-trained transition model, per-doc mean transition probability in integer micro-prob units (truncating division, commutative integer sums — no ln, no double order), keep gate at 34500",
      Some(s"""
        WITH $bigramScoreSql
        SELECT t.doc_id,
               CAST(COALESCE(d.n_bigrams, 0) AS BIGINT) AS n_bigrams,
               CAST(COALESCE(d.score_sum, 0) AS BIGINT) AS score_sum,
               CASE WHEN d.n_bigrams > 0 THEN d.score_sum // d.n_bigrams END AS mean_micro,
               COALESCE(d.score_sum // d.n_bigrams >= 34500, FALSE) AS keep
        FROM t LEFT JOIN d USING (doc_id)
      """)) { (spark, dir) =>
      val d = bigramLmDocScores(spark, dir)
      Tables.documentsFanned(spark, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"))
        .join(d, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("score_sum"), lit(0L)).as("score_sum"),
          when(col("n_bigrams") > 0,
            expr("score_sum div n_bigrams")).as("mean_micro"),
          coalesce(expr("score_sum div n_bigrams") >= 34500,
            lit(false)).as("keep"))
    },

    // ---- T13: language-ID confusion matrix ----------------------------------
    // The classifier-eval counterpart to g5's clustering eval: score t1's
    // language predictions against the fixture's `lang` ground truth as a
    // full confusion matrix — (true, predicted) counts plus an integer
    // micro-unit share of each true class (the per-class recall on the
    // diagonal), via the e10 share-of-group window in exact arithmetic.
    // This is how eval runs AT corpus scale: the heavy part is t1's
    // map-only scoring scan; the matrix itself is one |langs|²-bounded
    // aggregate, so "evaluate the classifier on 100 TB" costs one pass.
    // Shares t1's scorer verbatim (one helper drives both entries and both
    // oracles — the two sides cannot drift).
    QueryDef(
      "t13_langid_confusion",
      "Language-ID evaluation: t1's predictions vs the lang ground-truth column as a confusion matrix — (true, predicted, n) plus integer micro-unit share-of-true-class (diagonal = per-class recall); |langs|^2-bounded output at any corpus size",
      Some(s"""
        WITH pred AS ($langPredictedSql),
        cm AS (
          SELECT d.lang AS true_lang, p.predicted_lang, COUNT(*) AS n
          FROM documents d JOIN pred p USING (doc_id)
          GROUP BY 1, 2)
        SELECT true_lang, predicted_lang, n,
               CAST((n * 1000000) // SUM(n) OVER (PARTITION BY true_lang) AS BIGINT)
                 AS share_micro
        FROM cm
      """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val truth = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang").as("true_lang"))
      val cm = truth
        .join(langPredicted(spark, dir).select(col("doc_id"), col("predicted_lang")),
          "doc_id")
        .groupBy(col("true_lang"), col("predicted_lang"))
        .agg(count(lit(1)).as("n"))
      cm.withColumn("total",
          sum(col("n")).over(Window.partitionBy(col("true_lang"))))
        .select(col("true_lang"), col("predicted_lang"), col("n"),
          expr("(n * CAST(1000000 AS BIGINT)) div total").as("share_micro"))
    },

    // ---- T14: repetition filters (the Gopher/MassiveText signals) ----------
    // The repetition leg of quality filtering (Rae et al. 2021 §A1.1, the
    // C4/Gopher "repetitious documents are machine-generated" class): per
    // document, (a) the fraction of word-bigram instances taken by the
    // SINGLE most frequent bigram (top_bigram_micro — boilerplate/spam
    // pages repeat one phrase) and (b) the duplicate-sentence fraction
    // (dup_sent_micro — split on '. ', count instances beyond each
    // sentence's first). Everything is per-doc map-or-local: bigrams are
    // built inside the token array (t11's trick), both statistics are one
    // (doc, key)-keyed count + one doc-keyed aggregate — the standard
    // inverted shuffle, nothing global, micro-unit integer fractions (the
    // t13 rendering posture). The gate booleans pin Gopher's published
    // thresholds (top 2-gram > 0.18, dup sentence > 0.30).
    QueryDef(
      "t14_repetition_filters",
      "Gopher-style repetition quality filters: per-doc top-bigram instance share and duplicate-sentence share in micro units, with the published 0.18/0.30 gate booleans",
      Some("""
        WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks, lower(text) AS lt
                   FROM documents WHERE text IS NOT NULL),
        bg AS (
          SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bigram
          FROM t, unnest(range(1, greatest(len(toks), 1))) AS u(i)
          WHERE i + 1 <= len(toks)),
        bgc AS (SELECT doc_id, bigram, COUNT(*) AS n FROM bg GROUP BY 1, 2),
        bstat AS (SELECT doc_id, MAX(n) AS top_n, CAST(SUM(n) AS BIGINT) AS tot_n
                  FROM bgc GROUP BY 1),
        sent AS (
          SELECT doc_id, s AS sentence
          FROM (SELECT doc_id, unnest(string_split(lt, '. ')) AS s FROM t)
          WHERE s <> ''),
        sc AS (SELECT doc_id, sentence, COUNT(*) AS n FROM sent GROUP BY 1, 2),
        sstat AS (SELECT doc_id,
                         CAST(SUM(n) AS BIGINT) AS n_sent,
                         CAST(SUM(n - 1) AS BIGINT) AS n_dup
                  FROM sc GROUP BY 1)
        SELECT b.doc_id,
               b.top_n, b.tot_n,
               (b.top_n * 1000000) // b.tot_n AS top_bigram_micro,
               s.n_sent, s.n_dup,
               (s.n_dup * 1000000) // s.n_sent AS dup_sent_micro,
               (b.top_n * 1000000) // b.tot_n > 180000 AS flag_top_bigram,
               (s.n_dup * 1000000) // s.n_sent > 300000 AS flag_dup_sent
        FROM bstat b JOIN sstat s ON b.doc_id = s.doc_id
      """)) { (spark, dir) =>
      val t = Tables.documentsFanned(spark, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), toks(col("text")).as("toks"),
          lower(col("text")).as("lt"))
      // bigrams inside the array: map-only, docs shorter than 2 emit none
      val bg = t.select(col("doc_id"), explode(
          zip_with(col("toks"),
            slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
            (a, b) => concat(a, lit(" "), b))).as("bigram"))
        // zip_with pads the final position with null — not a bigram
        .filter(col("bigram").isNotNull)
      val bstat = bg.groupBy(col("doc_id"), col("bigram"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(max(col("n")).as("top_n"), sum(col("n")).as("tot_n"))
      val sent = t.select(col("doc_id"),
          explode(split(col("lt"), "\\. ")).as("sentence"))
        .filter(col("sentence") =!= "")
      val sstat = sent.groupBy(col("doc_id"), col("sentence"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n")).as("n_sent"), sum(col("n") - 1).as("n_dup"))
      val topMicro = expr("(top_n * CAST(1000000 AS BIGINT)) div tot_n")
      val dupMicro = expr("(n_dup * CAST(1000000 AS BIGINT)) div n_sent")
      bstat.join(sstat, Seq("doc_id"))
        .select(col("doc_id"), col("top_n"), col("tot_n"),
          topMicro.as("top_bigram_micro"),
          col("n_sent"), col("n_dup"),
          dupMicro.as("dup_sent_micro"),
          (topMicro > 180000L).as("flag_top_bigram"),
          (dupMicro > 300000L).as("flag_dup_sent"))
    },

    // ---- T15: domain-level quality roll-up ----------------------------------
    // The curation level between per-doc filters (t2/t7/t14) and corpus
    // assembly (d9): RefinedWeb/C4-style SOURCE filtering — a domain whose
    // docs are low-quality or mostly intra-domain duplicates is dropped
    // wholesale, before any per-doc work is spent on it. Signals: mean t2
    // quality score and the share of docs whose exact content hash repeats
    // WITHIN the domain (boilerplate mills score high here). Scale: the
    // signal projection is map-only; then two keyed aggregates — (source,
    // hash) is fine-grained so a mega-domain cannot hot-spot the first
    // exchange, and the per-source reduce rides map-side partials. Ratios
    // are double divisions of exact integer operands — identical IEEE
    // results on both engines (the t2 posture).
    QueryDef(
      "t15_domain_quality",
      "Domain-level curation roll-up: per-source doc count, mean t2 quality, intra-domain exact-dup share, keep gate (avg>=2, dup<=0.5) — RefinedWeb-style source filtering",
      Some(s"""
        WITH sig AS (
          SELECT source, md5(lower(trim(text))) AS h,
                 (CASE WHEN len(toks) BETWEEN 20 AND 200 THEN 1 ELSE 0 END
                  + CASE WHEN ${hitsSql("en")} * 1.0 / len(toks) >= 0.05 THEN 1 ELSE 0 END
                  + CASE WHEN len(list_distinct(toks)) * 1.0 / len(toks) >= 0.3 THEN 1 ELSE 0 END) AS q
          FROM (SELECT source, text, string_split(lower(text), ' ') AS toks FROM documents)),
        byhash AS (
          SELECT source, h, CAST(COUNT(*) AS BIGINT) AS c, CAST(SUM(q) AS BIGINT) AS sq
          FROM sig GROUP BY 1, 2)
        SELECT source, n_docs, avg_quality, dup_rate,
               (avg_quality >= 2.0 AND dup_rate <= 0.5) AS keep
        FROM (
          SELECT source,
                 CAST(SUM(c) AS BIGINT) AS n_docs,
                 CAST(SUM(sq) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS avg_quality,
                 CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                   / CAST(SUM(c) AS BIGINT) AS dup_rate
          FROM byhash GROUP BY 1)
      """)) { (spark, dir) =>
      val sig0 = Tables.documents(spark, dir)
        .select(col("source"), col("text"), toks(col("text")).as("toks"))
      val sig = sig0.select(col("source"),
        md5(lower(trim(col("text")))).as("h"),
        (when(size(col("toks")).between(20, 200), 1).otherwise(0)
          + when(hits(col("toks"), "en") * lit(1.0) / size(col("toks")) >= 0.05, 1).otherwise(0)
          + when(size(array_distinct(col("toks"))) * lit(1.0) / size(col("toks")) >= 0.3, 1).otherwise(0)).as("q"))
      val byHash = sig.groupBy(col("source"), col("h"))
        .agg(count(lit(1)).as("c"), sum(col("q")).as("sq"))
      byHash.groupBy(col("source"))
        .agg(sum(col("c")).as("n_docs"),
          (sum(col("sq")).cast("double") / sum(col("c"))).as("avg_quality"),
          (sum(when(col("c") > 1, col("c")).otherwise(0L)).cast("double")
            / sum(col("c"))).as("dup_rate"))
        .select(col("source"), col("n_docs"), col("avg_quality"), col("dup_rate"),
          (col("avg_quality") >= 2.0 && col("dup_rate") <= 0.5).as("keep"))
    },

    // ---- T16: CCNet-style per-language quality terciles ----------------------
    // CCNet's defining curation move (Wenzek et al., LREC 2020): bucket each
    // language's documents into head/middle/tail TERCILES by LM score, so
    // downstream mixtures can oversample the head without a hand-tuned
    // absolute threshold (t12's fixed gate) — the cutoffs adapt to each
    // language's own score distribution. Score = t12's bigram-LM mean in
    // micro units (shared helper; the two entries and both oracles cannot
    // drift), ranked per language with (score desc, doc_id) total order;
    // bucket boundaries are the exact integer conditions rk·3 ≤ n and
    // rk·3 ≤ 2n — no percentile function, no doubles, no engine quantile
    // semantics to reconcile. Docs with <2 tokens have no scorable bigram
    // and no bucket (t12 reports them with keep=false; CCNet drops them).
    //
    // Scale shape: scoring is t12's map-only extraction + two model
    // aggregates. The rank is NOT one window per language — |languages|
    // is a fixed-cardinality partition key, so a single language would
    // funnel its whole corpus through one sort reducer at 100 TB (the s3
    // lesson applied to sorts). Instead it is the x11 two-phase rank over
    // a grid the OPERATOR bounds: mean_micro is a probability in micro
    // units, so `score div 1000` yields ≤ 1001 buckets per language by
    // construction — phase 1 counts per (lang, bucket) and windows the
    // exclusive higher-bucket offsets + language totals over that bounded
    // grid; phase 2 ranks WITHIN each (lang, bucket) in parallel and adds
    // the broadcast offset. Bucket is a function of the score and the
    // bucket order aligns with the score order, so the sum is exactly the
    // per-language (score desc, doc_id) rank; no stage sorts more than
    // one bucket's rows. The oracle keeps the textbook single-window SQL.
    // The sketch path for approximate cutoffs is gated at k2.
    QueryDef(
      "t16_ccnet_buckets",
      "CCNet-style per-language quality terciles (Wenzek et al. 2020): t12's bigram-LM micro score ranked per language, head/middle/tail by exact integer tercile conditions (rk*3 <= n, rk*3 <= 2n) — the adaptive-cutoff corpus split",
      Some(s"""
        WITH $bigramScoreSql,
        scored AS (
          SELECT d.doc_id, dd.lang, d.score_sum // d.n_bigrams AS mean_micro
          FROM d JOIN documents dd USING (doc_id)
          WHERE dd.lang IS NOT NULL),
        ranked AS (
          SELECT doc_id, lang, mean_micro,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY mean_micro DESC, doc_id) AS rk,
                 COUNT(*) OVER (PARTITION BY lang) AS n
          FROM scored)
        SELECT doc_id, lang, mean_micro, rk,
               CASE WHEN rk * 3 <= n THEN 'head'
                    WHEN rk * 3 <= 2 * n THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM ranked
      """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      // `scored` feeds the phase-1 grid aggregate AND the phase-2 rank
      // join. Without materialization the physical plan evaluates the whole
      // bigram pipeline twice (no ReusedExchange: the grid branch prunes to
      // (lang, b), so the canonicalized subtrees differ). A solo run, where
      // the twin subtrees overlap on idle cores, favours recomputing; the
      // 8-thread suite, where cores are busy, favours writing it once, and
      // at corpus scale that is the only right form (2× a 100 TB pipeline
      // is never free).
      val scored = graft.operators.Reuse.materialize(bigramLmDocScores(spark, dir)
        .join(Tables.documents(spark, dir)
          .filter(col("lang").isNotNull)
          .select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"),
          expr("score_sum div n_bigrams").as("mean_micro"))
        // phase-1 grid key: mean_micro ∈ [0, 1e6] (a probability in micro
        // units), so div 1000 gives ≤ 1001 buckets — an operator constant
        .withColumn("b", expr("mean_micro div 1000")))
      // exclusive offsets over the bounded (lang × ≤1001) count grid; the
      // DESC bucket order matches the DESC score order of the final rank
      val offW = Window.partitionBy(col("lang")).orderBy(col("b").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val nW = Window.partitionBy(col("lang"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val offs = scored.groupBy(col("lang"), col("b"))
        .agg(count(lit(1)).as("c"))
        .select(col("lang"), col("b"),
          coalesce(sum(col("c")).over(offW), lit(0L)).as("off"),
          sum(col("c")).over(nW).as("n"))
      // phase 2: rank within each (lang, bucket) in parallel — bucket is a
      // function of the score, so within-bucket (score desc, doc_id) plus
      // the higher-bucket offset IS the per-language global rank
      val within = Window.partitionBy(col("lang"), col("b"))
        .orderBy(col("mean_micro").desc, col("doc_id"))
      scored.join(broadcast(offs), Seq("lang", "b"))
        .select(col("doc_id"), col("lang"), col("mean_micro"),
          (row_number().over(within).cast("long") + col("off")).as("rk"),
          col("n"))
        .select(col("doc_id"), col("lang"), col("mean_micro"), col("rk"),
          when(col("rk") * 3 <= col("n"), "head")
            .when(col("rk") * 3 <= col("n") * 2, "middle")
            .otherwise("tail").as("bucket"))
    })

  /** v2's oracle, K iterations unrolled. Layer i: `p_i` weighted adjacent
    * pairs of rendering `w_{i-1}` (lateral unnest over positions — the d11
    * shape), `b_i` the argmax row, `w_i` the rewritten rendering (two-pass
    * replace via cross join with the single-row `b_i`). `CAST(SUM(cnt) AS
    * BIGINT)`: DuckDB sums BIGINT into HUGEINT, which its pandas bridge
    * renders as float64 and the driver hash would diverge (the a17 lesson). */
  private def bpeOracle(k: Int, finalSelect: Option[String] = None): String = {
    val layers = (1 to k).map { i =>
      s"""p$i AS (
        SELECT s[t.i] AS a, s[t.i + 1] AS b, CAST(SUM(cnt) AS BIGINT) AS c
        FROM (SELECT string_split(w, ' ') AS s, cnt FROM w${i - 1}),
             unnest(range(1, len(s))) AS t(i)
        GROUP BY 1, 2),
      b$i AS (SELECT a, b, c FROM p$i ORDER BY c DESC, a, b LIMIT 1),
      w$i AS (
        -- LEFT JOIN ON TRUE, not CROSS JOIN: when the corpus runs out of
        -- repeated pairs b_i is EMPTY, and a cross join would annihilate
        -- the word table (v3 reads w_k — the Spark side stops early and
        -- still tokenizes); with no merge the rendering carries forward
        SELECT CASE WHEN a IS NULL THEN w
                    ELSE trim(replace(replace(' ' || w || ' ',
                                              ' ' || a || ' ' || b || ' ',
                                              ' ' || a || b || ' '),
                                      ' ' || a || ' ' || b || ' ',
                                      ' ' || a || b || ' ')) END AS w, cnt
        FROM w${i - 1} LEFT JOIN b$i ON TRUE)"""
    }.mkString(",\n      ")
    val finals = finalSelect.getOrElse(
      (1 to k).map(i =>
        s"SELECT $i AS merge_rank, a AS left_sym, b AS right_sym, c AS pair_count FROM b$i")
        .mkString("\n      UNION ALL ") + "\n      ORDER BY merge_rank")
    s"""
      WITH wc AS (
        SELECT word, COUNT(*) AS cnt
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
        WHERE word <> '' GROUP BY 1),
      w0 AS (SELECT array_to_string(string_split(word, ''), ' ') || ' </w>' AS w, cnt
             FROM wc),
      $layers
      $finals
    """
  }

  /** v4's oracle: `rounds` hard-EM rounds of the unigram-LM trainer
    * unrolled as generated CTE layers, mirroring graft.operators.UnigramLM
    * step for step. Per round r: `sc_r` bit-length scores off p_{r-1}
    * (the vocabulary total as a scalar subquery — the same integer Spark
    * collects and embeds as a literal), `hits_r` the vocabulary-filtered
    * substring occurrences, `grid_r` the per-word (s,k)→bits pivot
    * (42 columns at MaxWord=12 / MaxPiece=4), `dp_r` the unrolled Viterbi
    * (lateral column aliases chain c/v/k; candidates score bits−21; ties
    * break to the LONGER piece via the same >=-gate order as the Spark
    * DP). Comparisons against the absent k>j candidates are dropped —
    * sound because the k=1 candidate is always REAL (single chars are
    * never pruned, every round's vocabulary contains the full alphabet),
    * so a NegInf alternative can never tie or beat it. `walk_r_i` is the
    * backpointer walk, `us_r` the weighted usage re-estimation, `p_r` the
    * prune (top-KeepK multi-char by (c DESC, piece ASC) — a total order —
    * plus every corpus character at usage 0 if unused).
    *
    * CTE discipline (learned the hard way): the DP must be ONE CHAINED CTE
    * PER POSITION (`dp_r_j`, `walk_r_i`), never a single SELECT chaining
    * lateral column aliases — DuckDB expands lateral aliases by expression
    * substitution, so v12 referencing v11 (4×) referencing v10 (4×)…
    * explodes to ~4^12 expression nodes and hangs the binder before a
    * single row is read. Chained CTEs nest RELATIONS (linear); the
    * candidate expressions are inlined at most ~10× within one step.
    * Multi-referenced frames (`wc`, `subs`, `us_r`, `p_r`) are
    * MATERIALIZED so reference count never multiplies the chain. */
  /** @param tokenize false → v4 (emit the final scored vocabulary);
    *                  true → v5 (one EXTRA unpruned Viterbi round over the
    *                  final vocabulary, emit its usage as (token, freq) —
    *                  the corpus subword frequencies, the v3 posture). */
  private def unigramOracle(rounds: Int, tokenize: Boolean = false): String = {
    val MW = graft.operators.UnigramLM.MaxWord
    val MP = graft.operators.UnigramLM.MaxPiece
    val KK = graft.operators.UnigramLM.KeepK
    val NI = graft.operators.UnigramLM.NegInf
    def layer(r: Int, withPrune: Boolean = true): String = {
      val gridCols = (1 to MW).flatMap(s => (1 to math.min(MP, MW - s + 1)).map(k =>
        s"MAX(CASE WHEN s = $s AND k = $k THEN bits END) AS b${s}_$k"))
        .mkString(",\n               ")
      val dpSteps = (1 to MW).map { j =>
        val ks = 1 to math.min(MP, j)
        def cand(k: Int): String = {
          val prev = if (j - k == 0) "0" else s"v${j - k}"
          s"COALESCE($prev + (b${j - k + 1}_$k - 21), $NI)"
        }
        val vj = s"greatest(${ks.map(cand).mkString(", ")}) AS v$j"
        val kj =
          if (ks.size == 1) s"1 AS k$j"
          else {
            val whens = ks.reverse.init.map { k =>
              val ge = ks.filter(_ < k).map(o => s"${cand(k)} >= ${cand(o)}").mkString(" AND ")
              s"WHEN $ge THEN $k"
            }.mkString(" ")
            s"CASE $whens ELSE 1 END AS k$j"
          }
        val from = if (j == 1) s"grid$r" else s"dp${r}_${j - 1}"
        s"""dp${r}_$j AS (
          SELECT *, $vj, $kj FROM $from)"""
      }.mkString(",\n        ")
      val walkSteps = (1 to MW).map { i =>
        val kat = s"(CASE ${(1 to MW).map(j => s"WHEN p${i - 1} = $j THEN k$j").mkString(" ")} END)"
        val pc = s"CASE WHEN p${i - 1} > 0 THEN substring(word, CAST(p${i - 1} - $kat + 1 AS INT), CAST($kat AS INT)) END AS pc$i"
        val pi = s"CASE WHEN p${i - 1} > 0 THEN p${i - 1} - $kat ELSE 0 END AS p$i"
        val from = if (i == 1) s"walk${r}_0" else s"walk${r}_${i - 1}"
        s"""walk${r}_$i AS (
          SELECT *, $pc, $pi FROM $from)"""
      }.mkString(",\n        ")
      s"""sc$r AS (
          SELECT piece,
                 CAST(length(bin(c * 1048576 // (SELECT CAST(SUM(c) AS BIGINT) FROM p${r - 1}) + 1)) AS BIGINT) AS bits
          FROM p${r - 1}),
        hits$r AS (
          SELECT sb.word, sb.cnt, sb.s, sb.k, sc.bits
          FROM subs sb JOIN sc$r sc USING (piece)),
        grid$r AS (
          SELECT word, cnt, length(word) AS n,
               $gridCols
          FROM hits$r GROUP BY word, cnt),
        $dpSteps,
        walk${r}_0 AS (
          SELECT word, cnt, n, ${(1 to MW).map(j => s"k$j").mkString(", ")},
                 CAST(n AS BIGINT) AS p0
          FROM dp${r}_$MW),
        $walkSteps,
        us$r AS MATERIALIZED (
          SELECT piece, CAST(SUM(cnt) AS BIGINT) AS c
          FROM (SELECT cnt, unnest([${(1 to MW).map(i => s"pc$i").mkString(", ")}]) AS piece
                FROM walk${r}_$MW)
          WHERE piece IS NOT NULL GROUP BY 1)""" + (if (!withPrune) "" else s""",
        p$r AS MATERIALIZED (
          SELECT piece, c FROM (
            SELECT piece, c FROM us$r WHERE length(piece) > 1
            ORDER BY c DESC, piece LIMIT $KK)
          UNION ALL
          SELECT sg.ch AS piece, CAST(COALESCE(u.c, 0) AS BIGINT) AS c
          FROM (SELECT DISTINCT unnest(string_split(word, '')) AS ch FROM wc) sg
          LEFT JOIN us$r u ON u.piece = sg.ch)""")
    }
    val finalSql =
      if (tokenize)
        s"""${layer(rounds + 1, withPrune = false)}
      SELECT piece AS token, c AS freq FROM us${rounds + 1}"""
      else
        s"""SELECT piece, c,
             CAST(length(bin(c * 1048576 // (SELECT CAST(SUM(c) AS BIGINT) FROM p$rounds) + 1)) AS BIGINT) AS bits
      FROM p$rounds"""
    s"""
      WITH wc AS MATERIALIZED (
        SELECT word, COUNT(*) AS cnt
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
        WHERE word <> '' AND length(word) <= $MW GROUP BY 1),
      subs AS MATERIALIZED (
        SELECT word, cnt, u.s AS s, v.k AS k,
               substring(word, CAST(u.s AS INT), CAST(v.k AS INT)) AS piece
        FROM wc,
             unnest(range(1, length(word) + 1)) AS u(s),
             unnest(range(1, least($MP, length(word) - u.s + 1) + 1)) AS v(k)),
      p0 AS (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS c FROM subs GROUP BY 1),
      ${(1 to rounds).map(r => layer(r)).mkString(",\n      ")}${if (tokenize) ",\n      " else "\n      "}$finalSql
    """
  }
}
