package graft.ops

import graft.{Spec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second tranche of LLM-pipeline operators (BASELINE.json north star
  * names these explicitly): SimHash dedup, rolling-hash fingerprinting,
  * n-gram language-ID, quality scoring, embedding-cosine near-dup, and
  * IVF-style cluster-pruned similarity search.
  *
  * Portability primitive: a 31-ary polynomial rolling hash over characters,
  * `acc*31 + ord(ch) (mod 2^30)` — pure integer arithmetic with an
  * identical sequential fold on both engines (Spark `aggregate` with init
  * 0 ≡ DuckDB `list_reduce`, since 0*31+c = c), no reliance on any
  * engine-specific hash function.
  */
object LlmOps2 {
  import Tables._

  /** Spark SQL text of the rolling char hash of expression `e`.
    * Empty-char filtering + an explicit 0 seed make the two engines agree
    * on empty strings too (DuckDB's ord('') is -1 while Spark's ascii('')
    * is 0, and list_reduce has no init — both differences are neutralized
    * by filtering '' out and prepending the 0 seed on the DuckDB side).
    */
  private def rollhash(e: String): String =
    s"""aggregate(filter(split($e, ''), ch -> ch != ''), CAST(0 AS BIGINT),
          (acc, ch) -> (acc * 31 + ascii(ch)) % 1073741824)"""
  /** DuckDB equivalent of [[rollhash]] (0-seed via list_prepend). */
  private def rollhashSql(e: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(list_filter(string_split_regex($e, ''), ch -> ch <> ''),
            ch -> CAST(ord(ch) AS BIGINT))), (a, b) -> (a * 31 + b) % 1073741824)"""

  private val toksSql =
    """toks AS (
         SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
         FROM documents)"""

  /** Bounded (vec_id < 200) embeddings with L2 norm — array + fold shape. */
  private def emb2(s: SparkSession, d: String, bound: Int): DataFrame =
    t(s, d, "embeddings").where(col("vec_id") < bound)
      .select(col("vec_id"), col("embedding"),
        sqrt(aggregate(transform(col("embedding"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (a, x) => a + x)).as("nrm"))
  private def emb2Sql(bound: Int): String =
    s"""emb2 AS (
          SELECT vec_id, embedding,
            sqrt(list_reduce(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS nrm
          FROM embeddings WHERE vec_id < $bound)"""

  private def foldCos = round(
    aggregate(zip_with(col("p_emb"), col("embedding"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (a, x) => a + x) / (col("pn") * col("nrm")), 6)

  val all: Seq[Spec] = Seq(
    // 16-bit SimHash over token hashes: per bit, majority vote of ±1
    // weighted by token multiplicity; docs sharing a signature are
    // near-dup candidates. Each bit's vote is an `aggregate` over the
    // row's token-hash array: only `n_same` and the sort shuffle. A NULL
    // text has no tokens and no row, as in the oracle's unnest.
    Spec("dedup_simhash",
      (s, d) => t(s, d, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          expr(s"transform(split(text, ' '), tok -> ${rollhash("tok")})").as("hs"))
        .select(col("doc_id"), expr(
          """aggregate(sequence(0, 15), CAST(0 AS BIGINT), (sig, j) -> sig +
               IF(aggregate(hs, 0, (v, h) -> v + IF((shiftright(h, j) & 1) = 1, 1, -1)) > 0,
                 shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))""").as("simhash"))
        .withColumn("n_same", count(lit(1)).over(Window.partitionBy("simhash")))
        .orderBy("doc_id"),
      Some(s"""WITH $toksSql,
               th AS (SELECT doc_id, ${rollhashSql("token")} AS h FROM toks),
               bits AS (SELECT doc_id, h, j FROM th
                 CROSS JOIN (SELECT unnest(range(0, 16)) AS j) r),
               sj AS (SELECT doc_id, j,
                   sum(CASE WHEN (h >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
                 FROM bits GROUP BY doc_id, j),
               sh AS (SELECT doc_id, CAST(sum(CASE WHEN sgn > 0
                     THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS simhash
                 FROM sj GROUP BY doc_id)
               SELECT doc_id, simhash,
                 CAST(count(*) OVER (PARTITION BY simhash) AS BIGINT) AS n_same
               FROM sh ORDER BY doc_id""")),

    // Document fingerprint: rolling hash of the full text + a 16-char
    // prefix hash; fingerprint groups = exact-dup clusters.
    Spec("text_fingerprint",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          expr(rollhash("text")).as("fp"),
          expr(rollhash("substring(text, 1, 16)")).as("fp_prefix"))
        .withColumn("n_same_fp", count(lit(1)).over(Window.partitionBy("fp")))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, fp, fp_prefix,
                 CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS n_same_fp
               FROM (SELECT doc_id,
                       ${rollhashSql("text")} AS fp,
                       ${rollhashSql("substring(text, 1, 16)")} AS fp_prefix
                     FROM documents)
               ORDER BY doc_id""")),

    // n-gram-heuristic language ID: per-token language affinity learned
    // from the corpus (argmax lang per token), documents classified by
    // majority vote of their tokens' affinities. Ties break
    // lexicographically everywhere for determinism.
    Spec("text_langid",
      (s, d) => {
        val tk = LlmOps.toks(s, d)
        val wTok = Window.partitionBy("token").orderBy(desc("c"), asc("tok_lang"))
        val best = tk.groupBy(col("token"), col("lang").as("tok_lang"))
          .agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(wTok)).where(col("rn") === 1)
          .select("token", "tok_lang")
        val wDoc = Window.partitionBy("doc_id").orderBy(desc("v"), asc("tok_lang"))
        // No broadcast hint: `best` is one row per distinct TOKEN — corpus-
        // vocabulary-proportional, unbounded at 100 TB. Size-based join
        // selection broadcasts it while small and falls back to a shuffled
        // hash/sort-merge join when the vocabulary outgrows the threshold.
        val pred = tk.join(best, "token")
          .groupBy("doc_id", "tok_lang").agg(count(lit(1)).as("v"))
          .withColumn("rn", row_number().over(wDoc)).where(col("rn") === 1)
          .select(col("doc_id"), col("tok_lang").as("pred_lang"))
        t(s, d, "documents").select("doc_id", "lang")
          .join(pred, "doc_id")
          .withColumn("correct", col("lang") === col("pred_lang"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $toksSql,
               prof AS (SELECT token, lang AS tok_lang, count(*) AS c
                 FROM toks GROUP BY token, lang),
               best AS (SELECT token, tok_lang FROM (
                   SELECT token, tok_lang,
                     row_number() OVER (PARTITION BY token ORDER BY c DESC, tok_lang) AS rn
                   FROM prof) WHERE rn = 1),
               votes AS (SELECT tk.doc_id, b.tok_lang, count(*) AS v
                 FROM toks tk JOIN best b ON tk.token = b.token
                 GROUP BY tk.doc_id, b.tok_lang),
               pred AS (SELECT doc_id, tok_lang AS pred_lang FROM (
                   SELECT doc_id, tok_lang,
                     row_number() OVER (PARTITION BY doc_id ORDER BY v DESC, tok_lang) AS rn
                   FROM votes) WHERE rn = 1)
               SELECT d.doc_id, d.lang, p.pred_lang, (d.lang = p.pred_lang) AS correct
               FROM documents d JOIN pred p ON d.doc_id = p.doc_id
               ORDER BY d.doc_id""")),

    // Quality scoring: type-token ratio, long-token ratio, average token
    // length, BPE-ish regex token count; integer-exact inputs → one
    // identical double formula → deterministic band assignment.
    Spec("text_quality",
      (s, d) => {
        val base = t(s, d, "documents")
          .withColumn("arr", split(col("text"), " "))
          .withColumn("n_tokens", size(col("arr")).cast("long"))
          .withColumn("n_distinct", size(array_distinct(col("arr"))).cast("long"))
          .withColumn("char_sum", aggregate(col("arr"), lit(0L), (a, x) => a + length(x)))
          .withColumn("n_long",
            size(filter(col("arr"), x => length(x) > 4)).cast("long"))
          .withColumn("n_alpha",
            expr("size(regexp_extract_all(text, '[a-z]+', 0))").cast("long"))
        base.select(
            col("doc_id"), col("n_tokens"), col("n_distinct"), col("n_alpha"),
            round(col("n_distinct").cast("double") / col("n_tokens"), 6).as("ttr"),
            round(col("char_sum").cast("double") / col("n_tokens"), 6).as("avg_tok_len"),
            round(col("n_long").cast("double") / col("n_tokens"), 6).as("long_ratio"))
          .withColumn("score",
            round(lit(0.5) * col("ttr") + lit(0.3) * col("long_ratio") +
              lit(0.2) * least(col("avg_tok_len") / 8.0, lit(1.0)), 6))
          .withColumn("band",
            when(col("score") >= 0.8, "high").when(col("score") >= 0.6, "mid").otherwise("low"))
          .orderBy("doc_id")
      },
      Some("""SELECT *,
                CASE WHEN score >= 0.8 THEN 'high'
                     WHEN score >= 0.6 THEN 'mid' ELSE 'low' END AS band
              FROM (
                SELECT doc_id, n_tokens, n_distinct, n_alpha, ttr, avg_tok_len, long_ratio,
                  round(0.5 * ttr + 0.3 * long_ratio +
                    0.2 * least(avg_tok_len / 8.0, 1.0), 6) AS score
                FROM (
                  SELECT doc_id,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
                    CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_alpha,
                    round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                      / len(string_split(text, ' ')), 6) AS ttr,
                    round(CAST(list_reduce(list_transform(string_split(text, ' '),
                        x -> CAST(length(x) AS BIGINT)), (a, b) -> a + b) AS DOUBLE)
                      / len(string_split(text, ' ')), 6) AS avg_tok_len,
                    round(CAST(len(list_filter(string_split(text, ' '),
                        x -> length(x) > 4)) AS DOUBLE)
                      / len(string_split(text, ' ')), 6) AS long_ratio
                  FROM documents))
              ORDER BY doc_id""")),

    // PII scrubbing — the redaction stage every training-data pipeline
    // runs before tokenization. The fixture text carries no natural PII,
    // so a deterministic email + phone is synthesized per doc (derived
    // from doc_id) and then scrubbed back out: the oracle applies the
    // same construction and the same two regex replacements, so a pattern
    // that over- or under-matches on either engine hash-mismatches.
    // Pure per-row codegen'd regex work — no shuffle before the
    // presentation sort, embarrassingly parallel at any corpus size.
    // URL canonicalization + dedup count — the other half of web-scrape
    // ingest hygiene (the same page arrives as http/HTTPS, with tracking
    // params, fragments, trailing slashes). Deterministic URLs are BUILT
    // from document fields, canonicalized (lowercase, strip ?query/#frag,
    // trim trailing '/'), and the canonical-grain group shows the dedup
    // factor. Pure per-row string ops + one hash aggregate.
    Spec("text_url_normalize",
      (s, d) => {
        val u = t(s, d, "documents").select(col("doc_id"),
          concat(lit("HTTPS://Example.COM/"), col("lang"), lit("/p"),
            (col("doc_id") % 50).cast("string"),
            when(col("doc_id") % 3 === 0, "/").otherwise(""),
            when(col("doc_id") % 2 === 0,
              concat(lit("?utm_source=x&id="), (col("doc_id") % 7).cast("string")))
              .otherwise(""),
            when(col("doc_id") % 5 === 0, "#frag").otherwise("")).as("url"))
        u.select(col("doc_id"),
            expr("rtrim('/', lower(regexp_replace(url, '[?#].*$', '')))")
              .as("canon"))
          .groupBy("canon")
          .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
          .orderBy("canon")
      },
      Some("""WITH u AS (
                SELECT doc_id,
                  'HTTPS://Example.COM/' || lang || '/p' ||
                    CAST(doc_id % 50 AS VARCHAR) ||
                    CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
                    CASE WHEN doc_id % 2 = 0
                      THEN '?utm_source=x&id=' || CAST(doc_id % 7 AS VARCHAR)
                      ELSE '' END ||
                    CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url
                FROM documents),
              norm AS (
                SELECT doc_id,
                  rtrim(lower(regexp_replace(url, '[?#].*$', '')), '/') AS canon
                FROM u)
              SELECT canon, count(*) AS n_docs, min(doc_id) AS first_doc
              FROM norm GROUP BY canon ORDER BY canon""")),

    // HTML tag stripping — the first pass of every web-scrape ingest
    // (CommonCrawl-style corpora arrive as markup). Same
    // construct-then-parse design as fn_xml/pii_scrub: deterministic
    // markup is BUILT from the document row, stripped with the
    // tag-pattern regexp, and the cleaned text plus tag counts are
    // compared exactly. Corpus-linear, pure per-row regex, no shuffle
    // before the presentation sort.
    Spec("text_html_strip",
      (s, d) => {
        val h = t(s, d, "documents").select(col("doc_id"),
          concat(lit("<p class=\"x\">"), substring(col("text"), 1, 40),
            lit("</p><br/><b>"), col("lang"), lit("</b>")).as("html"))
        h.select(col("doc_id"),
            regexp_replace(col("html"), lit("<[^>]*>"), lit("")).as("clean"),
            (length(col("html")) -
              length(regexp_replace(col("html"), lit("<"), lit(""))))
              .cast("long").as("n_tags"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (
                SELECT doc_id,
                  '<p class="x">' || substr(text, 1, 40) || '</p><br/><b>' ||
                    lang || '</b>' AS html
                FROM documents)
              SELECT doc_id,
                regexp_replace(html, '<[^>]*>', '', 'g') AS clean,
                CAST(length(html) -
                  length(regexp_replace(html, '<', '', 'g')) AS BIGINT) AS n_tags
              FROM h ORDER BY doc_id""")),

    Spec("text_pii_scrub",
      (s, d) => {
        val aug = t(s, d, "documents").select(col("doc_id"),
          concat(col("text"),
            lit(" contact user"), col("doc_id"),
            lit("@mail.example.org or call +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
        aug.select(col("doc_id"),
            expr("""size(regexp_extract_all(text,
              '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', 0))""")
              .cast("long").as("n_emails"),
            expr("""size(regexp_extract_all(text, '\\+1-555-[0-9]{4}', 0))""")
              .cast("long").as("n_phones"),
            regexp_replace(
              regexp_replace(col("text"),
                lit("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"), lit("<EMAIL>")),
              lit("\\+1-555-[0-9]{4}"), lit("<PHONE>")).as("scrubbed"))
          .orderBy("doc_id")
      },
      Some("""WITH aug AS (
                SELECT doc_id,
                  text || ' contact user' || doc_id ||
                    '@mail.example.org or call +1-555-' ||
                    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
                FROM documents)
              SELECT doc_id,
                CAST(len(regexp_extract_all(text,
                  '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(text,
                  '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
                regexp_replace(regexp_replace(text,
                  '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                  '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
              FROM aug ORDER BY doc_id""")),

    // Deterministic hash sampling — the debuggable alternative to rand()
    // sampling: selection depends only on content (md5 agrees bit-for-bit
    // across engines), so the SAME rows come back on every engine, every
    // run, every partitioning — which is why it can be oracle-checked at
    // all and why pipeline debugging prefers it (a flagged doc stays in
    // the sample on re-run). 1-in-16 via the first hex nibble; filter is
    // pushdown-adjacent per-row work, no shuffle.
    Spec("sample_hash",
      (s, d) => t(s, d, "documents")
        .where(expr("substring(md5(text), 1, 1) = '0'"))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, n_chars FROM documents
              WHERE substring(md5(text), 1, 1) = '0' ORDER BY doc_id""")),

    // Embedding-cosine near-dup report over a fixed window: top-20 most
    // similar pairs + dup flag. (This synthetic corpus has no true
    // embedding dups — max pairwise cosine ≈ 0.44 — so the flag column
    // documents the threshold while the ranking stays non-trivial.)
    // Pairs go through the FUSED native cosine (functions/CosineSimExpr,
    // one codegen'd array pass — bit-identical to the HOF fold, proven by
    // sim_cosine_fused's oracle) instead of the interpreted three-pass
    // zip_with/aggregate chain: ~20k pairs × dim multiply-adds sit on the
    // hot path here, and the fused expression halves the query's cost.
    Spec("dedup_embed_cosine",
      (s, d) => {
        graft.GraftExtensions.ensure(s)
        val v = t(s, d, "embeddings").where(col("vec_id") < 200)
          .select(col("vec_id"), col("embedding"))
        val p = v.select(col("vec_id").as("p_id"), col("embedding").as("p_emb"))
        v.join(broadcast(p), col("p_id") < col("vec_id"))
          .select(col("p_id").as("d1"), col("vec_id").as("d2"),
            round(expr("cosine_sim(p_emb, embedding)"), 6).as("cosine"))
          .withColumn("is_dup", col("cosine") >= 0.9)
          .orderBy(desc("cosine"), asc("d1"), asc("d2"))
          .limit(20)
      },
      Some(s"""WITH ${emb2Sql(200)}
               SELECT a.vec_id AS d1, b.vec_id AS d2,
                 round(list_reduce(list_transform(list_zip(a.embedding, b.embedding),
                     q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)), (x, y) -> x + y)
                   / (a.nrm * b.nrm), 6) AS cosine,
                 (round(list_reduce(list_transform(list_zip(a.embedding, b.embedding),
                     q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)), (x, y) -> x + y)
                   / (a.nrm * b.nrm), 6) >= 0.9) AS is_dup
               FROM emb2 a JOIN emb2 b ON a.vec_id < b.vec_id
               ORDER BY cosine DESC, d1, d2 LIMIT 20""")),

    // IVF-style search: the centroid model is the coarse quantizer; each
    // vector is assigned to its argmax cluster (= infer_argmax), and probe
    // search scans ONLY the probe's cluster — the bucket-pruned layout
    // that replaces brute force at scale (cells ∝ sqrt(n), scan 1/cells
    // of the corpus per probe).
    Spec("sim_ivf",
      (s, d) => {
        val assign = Inference.preds(s, d).select("vec_id", "pred")
        val v = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"),
            sqrt(aggregate(transform(col("embedding"), x => x.cast("double") * x.cast("double")),
              lit(0.0), (a, x) => a + x)).as("nrm"))
          .join(assign, "vec_id")
        val p = v.where(col("vec_id") < 5)
          .select(col("vec_id").as("p_id"), col("embedding").as("p_emb"),
            col("nrm").as("pn"), col("pred").as("p_cell"))
        val w = Window.partitionBy("p_id").orderBy(desc("cosine"), asc("vec_id"))
        v.join(broadcast(p), col("pred") === col("p_cell") && col("vec_id") =!= col("p_id"))
          .select(col("p_id"), col("p_cell").as("cell"), col("vec_id"), foldCos.as("cosine"))
          .withColumn("rnk", row_number().over(w)).where(col("rnk") <= 3)
          .select("p_id", "cell", "rnk", "vec_id", "cosine")
          .orderBy("p_id", "rnk")
      },
      Some(s"""WITH ${Inference.predsCtesSql},
               emb3 AS (
                 SELECT e.vec_id, e.embedding, p.pred,
                   sqrt(list_reduce(list_transform(e.embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS nrm
                 FROM embeddings e JOIN preds p ON e.vec_id = p.vec_id)
               SELECT p_id, cell, rnk, vec_id, cosine FROM (
                 SELECT p.vec_id AS p_id, p.pred AS cell, v.vec_id,
                   round(list_reduce(list_transform(list_zip(p.embedding, v.embedding),
                       q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)), (x, y) -> x + y)
                     / (p.nrm * v.nrm), 6) AS cosine,
                   row_number() OVER (PARTITION BY p.vec_id
                     ORDER BY round(list_reduce(list_transform(list_zip(p.embedding, v.embedding),
                         q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)), (x, y) -> x + y)
                       / (p.nrm * v.nrm), 6) DESC, v.vec_id) AS rnk
                 FROM emb3 p JOIN emb3 v
                   ON v.pred = p.pred AND v.vec_id <> p.vec_id
                 WHERE p.vec_id < 5) WHERE rnk <= 3
               ORDER BY p_id, rnk""")),

    // Cosine top-k driven by the native codegen'd Catalyst expression
    // (graft.functions.DotProductExpr) instead of the HOF chain — same
    // sequential-fold numerics, one tight generated loop per row.
    Spec("sim_dot_native",
      (s, d) => {
        graft.GraftExtensions.ensure(s)
        val v = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"),
            sqrt(expr("dot_product(embedding, embedding)")).as("nrm"))
        val p = v.where(col("vec_id") >= 5 && col("vec_id") < 10)
          .select(col("vec_id").as("p_id"), col("embedding").as("p_emb"), col("nrm").as("pn"))
        val w = Window.partitionBy("p_id").orderBy(desc("cosine"), asc("vec_id"))
        v.join(broadcast(p), col("vec_id") =!= col("p_id"))
          .select(col("p_id"), col("vec_id"),
            round(expr("dot_product(p_emb, embedding)") / (col("pn") * col("nrm")), 6).as("cosine"))
          .withColumn("rnk", row_number().over(w)).where(col("rnk") <= 5)
          .select("p_id", "rnk", "vec_id", "cosine")
          .orderBy("p_id", "rnk")
      },
      Some("""WITH emb2 AS (
                SELECT vec_id, embedding,
                  sqrt(list_reduce(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS nrm
                FROM embeddings)
              SELECT p_id, rnk, vec_id, cosine FROM (
                SELECT p.vec_id AS p_id, v.vec_id,
                  round(list_reduce(list_transform(list_zip(p.embedding, v.embedding),
                      q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)), (x, y) -> x + y)
                    / (p.nrm * v.nrm), 6) AS cosine,
                  row_number() OVER (PARTITION BY p.vec_id
                    ORDER BY round(list_reduce(list_transform(list_zip(p.embedding, v.embedding),
                        q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)), (x, y) -> x + y)
                      / (p.nrm * v.nrm), 6) DESC, v.vec_id) AS rnk
                FROM emb2 p JOIN emb2 v ON v.vec_id <> p.vec_id
                WHERE p.vec_id >= 5 AND p.vec_id < 10) WHERE rnk <= 5
              ORDER BY p_id, rnk"""))
  )
}
