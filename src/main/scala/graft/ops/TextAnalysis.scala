package graft.ops

import graft.{Spec, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2 category K — text-analysis operators over `documents`
  * (split out of LlmOps.scala along its comment seams, round-7 verdict #8;
  * zero behavior change). The shared (doc_id, lang, token) stream
  * is [[LlmOps.toks]] / [[LlmOps.toksSql]] — the dedup family consumes
  * the same convention, so it stays in LlmOps.
  *
  * Scale design: token explodes shuffle (doc, token) pairs only; counts
  * are two-phase hash aggregates; top-k endings are TakeOrderedAndProject
  * (no global sort of the vocabulary); n-grams come from `ngrams`.
  */
object TextAnalysis {
  import Tables._
  import LlmOps.{toks, toksSql}

  val all: Seq[Spec] = Seq(
    Spec("text_tokenize",
      (s, d) => toks(s, d)
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("token")).limit(50),
      Some(s"""WITH $toksSql
               SELECT token, count(*) AS n FROM toks
               GROUP BY token ORDER BY n DESC, token LIMIT 50""")),

    // BPE-ish pre-tokenization (GPT-2-shaped regex, simplified to the
    // Java∩RE2 dialect: no lookahead, ASCII classes — the corpus is
    // ASCII). Contractions split, words/numbers keep their leading
    // space, punctuation runs group — the shape a byte-pair encoder
    // consumes. Per-row regex is codegen'd and embarrassingly parallel;
    // the count is the usual two-phase hash aggregate.
    Spec("text_tokenize_bpe",
      (s, d) => {
        val pat = "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"
        t(s, d, "documents")
          .select(explode(regexp_extract_all(col("text"), lit(pat), lit(0))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), asc("token")).limit(50)
      },
      Some("""SELECT token, count(*) AS n FROM (
                SELECT unnest(regexp_extract_all(text,
                  '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS token
                FROM documents)
              GROUP BY token ORDER BY n DESC, token LIMIT 50""")),

    Spec("text_stats",
      (s, d) => t(s, d, "documents")
        .withColumn("tok_arr", split(col("text"), " "))
        .withColumn("n_tokens", size(col("tok_arr")).cast("long"))
        .withColumn("char_sum",
          aggregate(col("tok_arr"), lit(0L), (a, x) => a + length(x)))
        .select(
          col("doc_id"), col("lang"), col("n_tokens"),
          (col("char_sum").cast("double") / col("n_tokens")).as("avg_tok_len"),
          (length(col("text")) === col("n_chars")).as("len_ok"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                (CAST(list_reduce(list_transform(string_split(text, ' '),
                    x -> CAST(length(x) AS BIGINT)), (a, b) -> a + b) AS DOUBLE)
                  / len(string_split(text, ' '))) AS avg_tok_len,
                (length(text) = n_chars) AS len_ok
              FROM documents ORDER BY doc_id""")),

    Spec("text_lang_dist",
      (s, d) => t(s, d, "documents")
        .groupBy("lang", "source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          (sum("n_chars").cast("double") / count(lit(1))).as("avg_chars"))
        .orderBy("lang", "source"),
      Some("""SELECT lang, source, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars,
                (CAST(sum(n_chars) AS DOUBLE) / count(*)) AS avg_chars
              FROM documents GROUP BY lang, source ORDER BY lang, source""")),

    // Top-20 bigrams from the `ngrams` generator, in the scan's pipeline;
    // the oracle builds them with a lead() window over the token stream.
    Spec("text_ngram",
      (s, d) => {
        graft.GraftExtensions.ensure(s)
        t(s, d, "documents")
          .select(call_function("ngrams", split(col("text"), " "), lit(2))
            .as(Seq("pos", "bigram")))
          .groupBy("bigram").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), asc("bigram")).limit(20)
      },
      Some(s"""WITH $toksSql,
               bg AS (
                 SELECT token || ' ' || lead(token, 1) OVER (
                   PARTITION BY doc_id ORDER BY pos) AS bigram
                 FROM toks)
               SELECT bigram, count(*) AS n FROM bg WHERE bigram IS NOT NULL
               GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""")),

    // Top-20 TRIgrams via the native `ngrams` GENERATOR
    // (graft.functions.NGramsGenerator), as text_ngram does for bigrams,
    // through SQL's LATERAL VIEW: grams are emitted inside the scan's
    // pipeline by a Generate node (same operator class as explode), so no
    // token stream is exchanged or sorted just to see adjacent tokens,
    // and the gram width is a parameter instead of one lead() column per
    // position. The oracle builds the same trigrams with two window
    // leads — agreement proves the generator's sliding semantics.
    Spec("text_ngram_native",
      (s, d) => {
        graft.GraftExtensions.ensure(s)
        t(s, d, "documents").createOrReplaceTempView("documents")
        s.sql("""WITH tk AS (SELECT doc_id, split(text, ' ') AS toks
                             FROM documents),
                 g AS (SELECT doc_id, pos, gram
                       FROM tk LATERAL VIEW ngrams(toks, 3) t AS pos, gram)
                 SELECT gram, count(*) AS n FROM g
                 GROUP BY gram ORDER BY n DESC, gram LIMIT 20""")
      },
      Some(s"""WITH $toksSql,
               g AS (
                 SELECT token || ' ' || lead(token, 1) OVER w
                        || ' ' || lead(token, 2) OVER w AS gram
                 FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
               SELECT gram, count(*) AS n FROM g WHERE gram IS NOT NULL
               GROUP BY gram ORDER BY n DESC, gram LIMIT 20""")),

    // TF-IDF top-k terms per document — the corpus-ranking staple. Shape
    // at 100 TB: two-phase hash aggregate to (doc, token) grain, a
    // token-keyed shuffle join against document frequencies (both sides
    // already co-keyed on token from their aggregates), a broadcast
    // 1-row corpus size, then a per-doc top-k window (WindowGroupLimit
    // pushes the k cutoff below the shuffle). IDF is the LINEAR ratio
    // N/df, not ln(N/df): one IEEE divide+multiply on identical integers
    // is bit-identical across engines, while ln() implementations may
    // differ in the last ulp and break the hash oracle — rank order is
    // unaffected (x ↦ ln is monotone).
    Spec("text_tfidf_topk",
      (s, d) => {
        val tf = toks(s, d).groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
        val nDocs = t(s, d, "documents").agg(count(lit(1)).as("n_docs"))
        val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("token"))
        tf.join(dfreq, "token")
          .crossJoin(broadcast(nDocs))
          .withColumn("score",
            col("tf").cast("double") * (col("n_docs").cast("double") / col("df")))
          .withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= 3)
          .select("doc_id", "rnk", "token", "tf", "df", "score")
          .orderBy("doc_id", "rnk")
      },
      Some(s"""WITH $toksSql,
               tf AS (SELECT doc_id, token, count(*) AS tf
                      FROM toks GROUP BY doc_id, token),
               dfx AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
               n AS (SELECT count(*) AS n_docs FROM documents),
               scored AS (
                 SELECT tf.doc_id, tf.token, tf.tf, dfx.df,
                   CAST(tf.tf AS DOUBLE)
                     * (CAST((SELECT n_docs FROM n) AS DOUBLE) / dfx.df) AS score
                 FROM tf JOIN dfx USING (token)),
               ranked AS (
                 SELECT *, row_number() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, token) AS rnk
                 FROM scored)
               SELECT doc_id, rnk, token, tf, df, score
               FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""")),

    // Zipf-law fit of the token frequency distribution — the standard
    // corpus-health diagnostic (natural text has log-freq ≈ -1·log-rank;
    // a slope far from -1 flags synthetic or boilerplate-heavy data).
    // Scale shape: the vocabulary is first cut to the top-500 terms by a
    // TakeOrderedAndProject (count → top-k, no global sort of the vocab);
    // the rank over those 500 rows rides ScalableCumulate's bucketed
    // two-pass so even the bounded stage plans no single-partition
    // window — the same bounded-top-k-then-analyze discipline as
    // text_oov_rate. regr over ln() inputs: both engines feed 1-ulp-exact
    // libm logs into the co-moment sums; round(4) leaves ~7 orders of
    // magnitude of slack over the accumulated drift.
    Spec("text_zipf",
      (s, d) => {
        // materialize the 500-row top-k so the helper partials pass and
        // the returned plan re-scan 500 rows, not the corpus; via the
        // ScalableCumulate ledger so the corpus-scale tokenize/top-k
        // shuffles hidden behind the checkpoint still count toward the
        // pinned shuffle budget (round-9 advice #3)
        val top = ScalableCumulate.materialize(
          toks(s, d).groupBy("token").agg(count(lit(1)).as("n"))
            .orderBy(desc("n"), asc("token")).limit(500))
        ScalableCumulate.rowNumber(top, col("n"), ascending = false,
            Seq(desc("n"), asc("token")), "rnk")._1
          .agg(
            round(regr_slope(log(col("n")), log(col("rnk"))), 4).as("zipf_slope"),
            round(regr_r2(log(col("n")), log(col("rnk"))), 4).as("r2"),
            count(lit(1)).as("n_terms"))
      },
      Some(s"""WITH $toksSql,
               tc AS (SELECT token, count(*) AS n FROM toks
                      GROUP BY token ORDER BY n DESC, token LIMIT 500),
               ranked AS (
                 SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rnk
                 FROM tc)
               SELECT round(regr_slope(ln(n), ln(rnk)), 4) AS zipf_slope,
                 round(regr_r2(ln(n), ln(rnk)), 4) AS r2,
                 count(*) AS n_terms
               FROM ranked""")),

    // Per-document token-distribution entropy (bits) — the repetition /
    // diversity quality signal a pretraining filter thresholds on (low
    // entropy ⇒ boilerplate or stutter). H = log2(n) - Σc·log2(c)/n over
    // per-doc token counts c: integer counts feed libm log2, each term is
    // rounded to 6 then summed with the SORTED-fold convention
    // (sample_temperature precedent) so the float sum is bit-identical by
    // construction, not by libm coincidence. Shape at 100 TB: one
    // two-phase hash aggregate to (doc, token) grain, one per-doc
    // aggregate — both map-side-combining, work linear in token count.
    Spec("text_entropy",
      (s, d) => {
        val tc = toks(s, d).groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
        tc.groupBy("doc_id")
          .agg(
            sum("c").cast("long").as("n_toks"),
            count(lit(1)).as("n_distinct"),
            aggregate(array_sort(collect_list(round(col("c") * log2(col("c")), 6))),
              lit(0.0d), (a, x) => a + x).as("clog"))
          .select(col("doc_id"), col("n_toks"), col("n_distinct"),
            round(log2(col("n_toks")) - col("clog") / col("n_toks"), 4)
              .as("entropy_bits"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $toksSql,
               tc AS (SELECT doc_id, token, count(*) AS c FROM toks
                      GROUP BY doc_id, token),
               pd AS (
                 SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
                   count(*) AS n_distinct,
                   list_reduce(list_sort(list(round(c * log2(c), 6))),
                     (a, b) -> a + b) AS clog
                 FROM tc GROUP BY doc_id)
               SELECT doc_id, n_toks, n_distinct,
                 round(log2(n_toks) - clog / n_toks, 4) AS entropy_bits
               FROM pd ORDER BY doc_id""")),

    // Per-document cross-entropy against the CORPUS unigram distribution —
    // the perplexity-proxy quality score an LLM-data pipeline uses to rank
    // documents without a model: H(doc ∥ corpus) = -(1/n)Σ log2(c_t/total)
    // = log2(total) - (Σ log2 c_t)/n. Documents full of rare tokens score
    // high (surprising), boilerplate scores low — complementary to
    // text_entropy, which only sees WITHIN-doc repetition.
    // Determinism: log2 of an exact BIGINT count is one deterministic IEEE
    // op; per-token terms are floor-scaled to BIGINT (×1e9 — |log2|<64 and
    // ≤1e6 tokens/doc keeps sums < 2^56) and summed exactly, then the
    // final expression is a fixed IEEE dag on exact integers.
    // Scale: vocab counts are a two-phase hash agg; the token→count join
    // is a plain shuffled hash join (the vocabulary of a 100 TB corpus
    // outgrows any broadcast); per-doc reduction is another hash agg. No
    // window, no sort until the final |docs|-row ORDER BY.
    Spec("text_cross_entropy",
      (s, d) => {
        val tk = toks(s, d)
        val vocab = tk.groupBy("token").agg(count(lit(1)).as("c"))
        val total = vocab.agg(sum("c").cast("long").as("total"))
        tk.join(vocab, "token")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_toks"),
            sum(floor(log2(col("c")) * lit(1.0e9)).cast("long")).as("slog"))
          .crossJoin(broadcast(total))
          .select(col("doc_id"), col("n_toks"),
            round(log2(col("total")) -
              (col("slog").cast("double") / lit(1.0e9)) / col("n_toks"), 4)
              .as("ce_bits"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $toksSql,
               vocab AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
               tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM vocab),
               pd AS (
                 SELECT t.doc_id, count(*) AS n_toks,
                   CAST(sum(CAST(floor(log2(v.c) * 1e9) AS BIGINT))
                     AS BIGINT) AS slog
                 FROM toks t JOIN vocab v ON t.token = v.token
                 GROUP BY t.doc_id)
               SELECT doc_id, n_toks,
                 round(log2((SELECT total FROM tot)) -
                   (CAST(slog AS DOUBLE) / 1e9) / n_toks, 4) AS ce_bits
               FROM pd ORDER BY doc_id"""))
  )
}
