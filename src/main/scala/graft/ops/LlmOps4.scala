package graft.ops

import graft.{Spec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fourth tranche of LLM-pipeline operators (split from LlmOps2.scala
  * along its section seams — round 10): repetition/decontamination
  * quality gates, sequence packing, hash-based splits and sampling,
  * winnowing fingerprints, semantic dedup, and asymmetric containment.
  * Same Spec/Tables scaffolding and oracle discipline as the parent.
  */
object LlmOps4 {
  import Tables._

  val all: Seq[Spec] = Seq(
    // Repetition detection — the Gopher-style quality filter that catches
    // degenerate boilerplate: per doc, the duplicate-token fraction
    // (1 - distinct/total) and the share of the doc taken by its single
    // most-repeated bigram. One projection over the token array (only the
    // sort shuffles): the top bigram's count is the longest run in the
    // sorted bigram array. Docs under 2 tokens have no bigram and no row,
    // and filtering them first keeps `sequence(0, size - 2)` from counting
    // down. Ratios round after exact integer counts: hash-oracle safe.
    Spec("text_repetition",
      (s, d) => {
        val toks = col("toks")
        val longestRun = (sorted: Column) => aggregate(sorted,
          struct(lit(null).cast("string").as("prev"), lit(0).as("run"), lit(0).as("best")),
          (acc, x) => {
            val run = when(x === acc("prev"), acc("run") + 1).otherwise(lit(1))
            struct(x.as("prev"), run.as("run"), greatest(acc("best"), run).as("best"))
          },
          acc => acc("best"))
        t(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .where(size(toks) >= 2)
          .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
            size(array_distinct(toks)).as("n_distinct"),
            longestRun(array_sort(transform(sequence(lit(0), size(toks) - 2), i =>
              concat(toks(i), lit(" "), toks(i + 1))))).as("max_bigram"))
          .select(col("doc_id"), col("n_tokens"),
            round(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"), 6)
              .as("dup_token_ratio"),
            round(col("max_bigram").cast("double") / (col("n_tokens") - 1), 6)
              .as("top_bigram_frac"))
          .withColumn("repetitive",
            col("dup_token_ratio") > 0.9 || col("top_bigram_frac") > 0.18)
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
                SELECT doc_id,
                  unnest(string_split(text, ' ')) AS token,
                  generate_subscripts(string_split(text, ' '), 1) AS pos
                FROM documents),
              bg AS (
                SELECT doc_id,
                  token || ' ' || lead(token, 1) OVER (
                    PARTITION BY doc_id ORDER BY pos) AS bigram
                FROM toks),
              bgstats AS (
                SELECT doc_id, max(cnt) AS max_bigram, sum(cnt) AS n_bigrams
                FROM (SELECT doc_id, bigram, count(*) AS cnt FROM bg
                      WHERE bigram IS NOT NULL GROUP BY doc_id, bigram)
                GROUP BY doc_id),
              base AS (
                SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
                FROM documents)
              SELECT doc_id, n_tokens, dup_token_ratio, top_bigram_frac,
                (dup_token_ratio > 0.9 OR top_bigram_frac > 0.18) AS repetitive
              FROM (
                SELECT base.doc_id AS doc_id, n_tokens,
                  round(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS dup_token_ratio,
                  round(CAST(max_bigram AS DOUBLE) / n_bigrams, 6) AS top_bigram_frac
                FROM base JOIN bgstats ON base.doc_id = bgstats.doc_id)
              ORDER BY doc_id""")),

    // Sequence packing — the pretraining layout step: concatenate the
    // token stream (docs can split across sequence boundaries, the
    // standard streaming-concat packing) and report, per doc, which
    // fixed-length training sequences it lands in. Packing is per SHARD
    // (doc_id mod 16): the running sum windows over a bounded partition,
    // never a single global ordering — the shape that scales, since shards
    // pack independently on separate executors at any corpus size. Pure
    // integer arithmetic end to end (cumsum + integer division), so the
    // oracle matches bit-for-bit.
    Spec("pack_sequences",
      (s, d) => {
        val seqLen = 256L
        val w = Window.partitionBy("shard").orderBy("doc_id")
        t(s, d, "documents")
          .select(col("doc_id"), (col("doc_id") % 16).as("shard"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
          .withColumn("tok_end", sum("n_tokens").over(w))
          .withColumn("tok_start", col("tok_end") - col("n_tokens"))
          .select(col("doc_id"), col("shard"), col("n_tokens"), col("tok_start"),
            expr(s"tok_start div $seqLen").as("seq_first"),
            expr(s"(tok_end - 1) div $seqLen").as("seq_last"),
            (expr(s"(tok_end - 1) div $seqLen") - expr(s"tok_start div $seqLen") + lit(1L))
              .as("n_seqs"))
          .orderBy("doc_id")
      },
      // DuckDB widens integer SUM (incl. windowed) to HUGEINT; both window
      // sums are CAST back to BIGINT so tok_start/tok_end and the derived
      // seq_* columns keep the Spark LongType dtype (CORRECTNESS_r05's one
      // hash mismatch was exactly this widening, values identical).
      Some("""SELECT doc_id, shard, n_tokens, tok_start,
                tok_start // 256 AS seq_first,
                (tok_end - 1) // 256 AS seq_last,
                (tok_end - 1) // 256 - tok_start // 256 + 1 AS n_seqs
              FROM (
                SELECT doc_id, shard, n_tokens,
                  CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS tok_start,
                  CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_end
                FROM (
                  SELECT doc_id, doc_id % 16 AS shard,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                  FROM documents))
              ORDER BY doc_id""")),

    // Benchmark decontamination — the train/eval hygiene step: flag corpus
    // documents whose 3-gram streams overlap a held-out benchmark set
    // (docs 0-19 stand in for the benchmark). The benchmark's DISTINCT
    // 3-grams broadcast (bounded by the benchmark's size — fixed by
    // definition, like a probe set — never by the corpus); each corpus
    // doc's overlap is counted through that broadcast equi-join and one
    // doc-grain aggregate. The 3-grams come from the native `ngrams`
    // generator inside the scan's pipeline, bounded by document length:
    // scan ∥ broadcast ∥ count, corpus-linear.
    Spec("text_decontaminate",
      (s, d) => {
        graft.GraftExtensions.ensure(s)
        val tri = t(s, d, "documents")
          .select(col("doc_id"), call_function("ngrams", split(col("text"), " "), lit(3))
            .as(Seq("pos", "tri")))
        val bench = tri.where(col("doc_id") < 20)
          .select("tri").distinct().withColumn("hit", lit(1))
        tri.where(col("doc_id") >= 20)
          .join(broadcast(bench), Seq("tri"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_trigrams"),
            sum(coalesce(col("hit"), lit(0))).as("n_overlap"))
          .select(col("doc_id"), col("n_trigrams"), col("n_overlap"),
            round(col("n_overlap").cast("double") / col("n_trigrams"), 6)
              .as("overlap_frac"))
          .withColumn("contaminated", col("overlap_frac") > 0.5)
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
                SELECT doc_id,
                  unnest(string_split(text, ' ')) AS token,
                  generate_subscripts(string_split(text, ' '), 1) AS pos
                FROM documents),
              tri AS (
                SELECT doc_id,
                  token || ' ' || lead(token, 1) OVER w
                        || ' ' || lead(token, 2) OVER w AS tri
                FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
              bench AS (
                SELECT DISTINCT tri FROM tri
                WHERE doc_id < 20 AND tri IS NOT NULL),
              corpus AS (
                SELECT doc_id, tri FROM tri
                WHERE doc_id >= 20 AND tri IS NOT NULL)
              SELECT doc_id, n_trigrams, n_overlap,
                round(CAST(n_overlap AS DOUBLE) / n_trigrams, 6) AS overlap_frac,
                round(CAST(n_overlap AS DOUBLE) / n_trigrams, 6) > 0.5 AS contaminated
              FROM (
                SELECT c.doc_id,
                  count(*) AS n_trigrams,
                  CAST(sum(CASE WHEN b.tri IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_overlap
                FROM corpus c LEFT JOIN bench b ON c.tri = b.tri
                GROUP BY c.doc_id)
              ORDER BY doc_id""")),

    // Stratified deterministic sampling — a fixed-size sample PER STRATUM
    // (language), selected by content hash instead of rand(): rank within
    // each lang by md5(text) and keep the first 5. The same docs return on
    // every engine, run, and partitioning (md5 agrees bit-for-bit), which
    // is what makes a sampled eval set reproducible — and this query
    // oracle-checkable. Spark's WindowGroupLimit pushes the rank<=5 cutoff
    // below the shuffle, so each partition forwards at most 5 rows per
    // stratum — O(strata × k) intermediate, any corpus size.
    // Content-addressed train/val/test split — the assignment every
    // training run needs to be REPRODUCIBLE and leak-free: bucketing on a
    // hash of the CONTENT (not doc_id, not rand()) means the same document
    // lands in the same split across reshuffles, re-crawls, and engine
    // versions, and exact duplicates can never straddle train/test (the
    // classic eval-leak). First md5 nibble → 16 buckets: 0-c train
    // (13/16 ≈ 81%), d val, e-f test; hex chars compare identically in
    // both engines (ASCII). Output is the per-(lang, split) audit table.
    // Scale: one linear scan + a two-phase hash agg on a 3×|langs| key
    // space — no shuffle of the corpus itself.
    Spec("sample_split",
      (s, d) => {
        val b = substring(md5(col("text")), 1, 1)
        t(s, d, "documents")
          .withColumn("split",
            when(b <= lit("c"), lit("train"))
              .when(b === lit("d"), lit("val"))
              .otherwise(lit("test")))
          .groupBy("lang", "split")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").cast("long").as("total_chars"))
          .orderBy("lang", "split")
      },
      Some("""SELECT lang,
                CASE WHEN substring(md5(text), 1, 1) <= 'c' THEN 'train'
                     WHEN substring(md5(text), 1, 1) = 'd' THEN 'val'
                     ELSE 'test' END AS split,
                count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars
              FROM documents GROUP BY 1, 2 ORDER BY lang, split""")),

    Spec("sample_stratified",
      (s, d) => {
        val w = Window.partitionBy("lang").orderBy(md5(col("text")), col("doc_id"))
        t(s, d, "documents")
          .withColumn("rk", row_number().over(w))
          .where(col("rk") <= 5)
          .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"))
          .orderBy("lang", "rk")
      },
      Some("""SELECT lang, rk, doc_id, n_chars FROM (
                SELECT lang, doc_id, n_chars,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY md5(text), doc_id) AS rk
                FROM documents)
              WHERE rk <= 5 ORDER BY lang, rk""")),

    // Tokenizer-vocabulary coverage: per-document out-of-vocabulary rate
    // against the corpus top-1000 token vocabulary — the coverage audit run
    // before committing to a tokenizer. The vocab is a distributed top-k
    // (TakeOrderedAndProject — no global sort) with a (count DESC, token)
    // total order so the rank-1000 boundary is deterministic; it then
    // BROADCASTS (vocabulary-sized by definition, never corpus-sized), and
    // the per-doc rate is one token-stream left join + one doc-grain
    // aggregate — corpus-linear. DuckDB's integer sum widens to HUGEINT,
    // hence the explicit BIGINT cast (the pack_sequences lesson).
    Spec("text_oov_rate",
      (s, d) => {
        val tk = t(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        val vocab = tk.groupBy("token").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), asc("token")).limit(1000)
          .select(col("token")).withColumn("iv", lit(1))
        tk.join(broadcast(vocab), Seq("token"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
          .select(col("doc_id"), col("n_tokens"), col("n_oov"),
            (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents),
              v AS (
                SELECT token FROM (
                  SELECT token, count(*) AS n FROM tk
                  GROUP BY token ORDER BY n DESC, token LIMIT 1000)),
              j AS (
                SELECT tk.doc_id,
                  CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
                FROM tk LEFT JOIN v ON tk.token = v.token)
              SELECT doc_id, count(*) AS n_tokens,
                CAST(sum(oov) AS BIGINT) AS n_oov,
                CAST(sum(oov) AS DOUBLE) / count(*) AS oov_rate
              FROM j GROUP BY doc_id ORDER BY doc_id""")),

    // Temperature-based mixture reweighting (the multilingual-pretraining
    // sampling scheme): per-language sampling weight ∝ n^0.7, which
    // up-weights low-resource strata relative to natural frequency. One
    // tiny language-grain aggregate + a 1-row broadcast normalizer —
    // corpus cost is the single count aggregate. Determinism: the
    // normalizer Σ n^0.7 is a SORTED fold (array_sort + aggregate ≡
    // DuckDB list_sort + list_reduce, identical addition order — a float
    // sum over groups would be merge-order dependent), each pow() term is
    // rounded to 6 places BEFORE the fold per the libm convention
    // (Fns.scala: libm pow is only 1-ulp-accurate, so summing RAW pow
    // outputs would rely on JVM Math.pow matching DuckDB's libm bit-for-
    // bit — rounding first makes the summed operands bit-identical by
    // construction), and natural_frac is a single division on identical
    // integers (bit-identical, unrounded).
    Spec("sample_temperature",
      (s, d) => {
        val g = t(s, d, "documents").groupBy("lang")
          .agg(count(lit(1)).as("n_docs"))
        val rpow = round(pow(col("n_docs").cast("double"), lit(0.7)), 6)
        val z = g.agg(sum(col("n_docs")).as("n_total"),
          aggregate(array_sort(collect_list(rpow)), lit(0.0d),
            (a, x) => a + x).as("zpow"))
        g.crossJoin(broadcast(z))
          .select(col("lang"), col("n_docs"),
            (col("n_docs").cast("double") / col("n_total").cast("double"))
              .as("natural_frac"),
            round(rpow / col("zpow"), 6).as("temp_weight"))
          .orderBy("lang")
      },
      Some("""WITH g AS (
                SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
              z AS (
                SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
                  list_reduce(list_sort(list(
                      round(pow(CAST(n_docs AS DOUBLE), 0.7), 6))),
                    (a, b) -> a + b) AS zpow
                FROM g)
              SELECT lang, n_docs,
                CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS natural_frac,
                round(round(pow(CAST(n_docs AS DOUBLE), 0.7), 6) / zpow, 6)
                  AS temp_weight
              FROM g CROSS JOIN z ORDER BY lang""")),

    // Winnowing document fingerprints (the MOSS scheme): hash every token
    // 3-gram, slide a 4-hash window over the stream, keep each window's
    // minimum — guaranteed to share a fingerprint with any document that
    // shares a ≥6-token run, at ~1/4 the storage of full shingling. The
    // hash is md5 of the 3-gram STRING and the winnow min is LEXICOGRAPHIC
    // (md5 agrees bit-for-bit across engines; no engine-specific hash
    // function anywhere). The answer is one row per doc, so it is computed
    // as a per-document kernel inside the row: the text is split once, the
    // n-2 trigram hashes and the n-5 window minima are arrays built by
    // transform(sequence), and the three aggregates read the minima array.
    // No explode, no doc_id shuffle, no Window — the final orderBy is the
    // only exchange. A doc needs ≥6 tokens (4 trigrams) for one full
    // window; shorter docs have no fingerprint and no row, as in the
    // oracle's `cnt = 4` filter.
    Spec("text_winnowing",
      (s, d) => {
        val toks = col("toks")
        val hs = col("hs")
        val fps = col("fps")
        // Catalyst pushes the token-count predicate below the projection,
        // where it evaluates its own split; a bounded split(text, " ", 6)
        // there measured no faster (sf0.1, 4 cores)
        t(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .where(size(toks) >= 6)
          .select(col("doc_id"),
            transform(sequence(lit(0), size(toks) - 3), i =>
              md5(concat_ws(" ", toks(i), toks(i + 1), toks(i + 2)))).as("hs"))
          .select(col("doc_id"),
            transform(sequence(lit(1), size(hs) - 3), i =>
              array_min(slice(hs, i, lit(4)))).as("fps"))
          .select(col("doc_id"),
            size(array_distinct(fps)).cast("long").as("n_fp"),
            array_min(fps).as("fp_min"), array_max(fps).as("fp_max"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
                SELECT doc_id,
                  unnest(string_split(text, ' ')) AS token,
                  generate_subscripts(string_split(text, ' '), 1) AS pos
                FROM documents),
              tri AS (
                SELECT doc_id, pos,
                  md5(token || ' ' || lead(token, 1) OVER w
                            || ' ' || lead(token, 2) OVER w) AS h
                FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
              tri2 AS (SELECT doc_id, pos, h FROM tri WHERE h IS NOT NULL),
              win AS (
                SELECT doc_id, min(h) OVER fw AS fp, count(*) OVER fw AS cnt
                FROM tri2 WINDOW fw AS (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING))
              SELECT doc_id, count(DISTINCT fp) AS n_fp,
                min(fp) AS fp_min, max(fp) AS fp_max
              FROM win WHERE cnt = 4 GROUP BY doc_id ORDER BY doc_id""")),

    // Semantic dedup, SemDeDup-shaped: assign every embedding to its
    // nearest centroid (the cached inference pipeline — k-means-style
    // cluster assignment), then within each cluster rank by similarity to
    // the center and keep the top-ranked vector as the cluster
    // representative. This is the CLUSTER-level semantic compression pass:
    // work is one assignment per vector + a per-cluster window — never
    // pairwise — which is the whole point of clustering first at 100 TB
    // (the τ-threshold variant that drops only score ≥ τ near-dups of the
    // representative reads the same `score` column from this relation).
    // Reuses Inference's cached preds stage; the oracle extends the same
    // CTE chain.
    Spec("dedup_semantic_cluster",
      (s, d) => {
        val p = Inference.preds(s, d)
        val w = Window.partitionBy("pred").orderBy(desc("score"), asc("vec_id"))
        val ranked = p.withColumn("rnk", row_number().over(w).cast("long"))
        val reps = ranked.where(col("rnk") === 1)
          .select(col("pred"), col("vec_id").as("rep_id"))
        ranked.join(broadcast(reps), "pred")
          .select(col("vec_id"), col("pred").as("cluster"), col("rnk"),
            col("rep_id"), (col("vec_id") === col("rep_id")).as("keep"),
            col("score"))
          .orderBy("vec_id")
      },
      Some(s"""WITH ${Inference.predsCtesSql},
               ranked AS (
                 SELECT vec_id, pred, score,
                   CAST(row_number() OVER (PARTITION BY pred
                     ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
                 FROM preds),
               reps AS (SELECT pred, vec_id AS rep_id FROM ranked WHERE rnk = 1)
               SELECT r.vec_id, r.pred AS cluster, r.rnk, reps.rep_id,
                 r.vec_id = reps.rep_id AS keep, r.score
               FROM ranked r JOIN reps ON r.pred = reps.pred
               ORDER BY r.vec_id""")),

    // CONTAINMENT dedup — the asymmetric cousin of Jaccard near-dup:
    // C(P,D) = |P∩D| / |P| finds documents that CONTAIN a probe's token
    // set (quote inclusion, boilerplate wrapping, prompt-in-completion),
    // which symmetric Jaccard misses whenever |D| ≫ |P| (the union in the
    // denominator drowns the overlap). Probe side is a bounded set
    // (doc_id < 20) broadcast against the corpus; the intersection is the
    // native codegen'd `sorted_intersect_count` over each doc's sorted
    // distinct tokens (one linear merge per pair, no explode, no
    // shuffle), and containment is one IEEE division of exact BIGINTs.
    // The sets are the dedup family's verified token CODES
    // (LlmOps.sortedTokenCodes: 64-bit codes under the corpus's injective
    // seed, or the sorted strings when no seed is injective), so the merge
    // compares fixed 8-byte elements; the first construction per corpus
    // per JVM may run the shared seed-check aggregate
    // (LlmOps.injectiveCodeSeed), every later one reads its memo.
    // The 100 TB unbounded variant is the same banded-minhash candidate
    // route the Jaccard family rides (containment ≥ t implies band
    // collision at the same rate); this query is the exact bounded-probe
    // referee, the sim_cosine_topk pattern applied to set containment.
    Spec("dedup_containment",
      (s, d) => {
        graft.GraftExtensions.ensure(s)
        val sets = t(s, d, "documents")
          .select(col("doc_id"), LlmOps.sortedTokenCodes(s, d,
            array_distinct(split(col("text"), " "))).as("ts"))
          .withColumn("nt", size(col("ts")).cast("long"))
        val probes = sets.where(col("doc_id") < 20)
          .select(col("doc_id").as("p_id"), col("ts").as("pts"),
            col("nt").as("np"))
        sets.join(broadcast(probes), col("doc_id") =!= col("p_id"))
          .withColumn("inter", expr("sorted_intersect_count(pts, ts)"))
          .where(col("inter") * 10 >= col("np") * 8)
          .select(col("p_id"), col("doc_id"), col("inter"),
            round(col("inter").cast("double") / col("np"), 6)
              .as("containment"))
          .orderBy("p_id", "doc_id")
      },
      Some("""WITH sets AS (
                SELECT doc_id,
                  list_sort(list_distinct(string_split(text, ' '))) AS ts,
                  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                    AS nt
                FROM documents),
              pr AS (SELECT doc_id AS p_id, ts AS pts, nt AS np FROM sets
                     WHERE doc_id < 20),
              pairs AS (
                SELECT pr.p_id, s.doc_id, pr.np,
                  CAST(len(list_intersect(pr.pts, s.ts)) AS BIGINT) AS inter
                FROM sets s JOIN pr ON s.doc_id <> pr.p_id)
              SELECT p_id, doc_id, inter,
                round(CAST(inter AS DOUBLE) / np, 6) AS containment
              FROM pairs WHERE inter * 10 >= np * 8
              ORDER BY p_id, doc_id"""))
  )
}
