package graft.ops

import graft.{Spec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2 category J — the reference's batch-inference surface,
  * re-expressed Spark-first over `embeddings`.
  *
  * The reference's pipeline (partition corpus → load model per partition →
  * forward pass → argmax → evaluate) becomes: a deterministic "model fit"
  * (per-label centroids as an aggregation), a broadcast-join forward pass
  * (dot products), window argmax, and relational eval metrics. The literal
  * reference mechanism (opaque model + mapPartitions, model realized once
  * per partition) is [[InferMapPartitions.scoreMapPartitions]], validated
  * against this SQL-shaped path in the test suite.
  *
  * Determinism: float32 elements are cast to double (exact); per-(label,pos)
  * means and dot products sum floor-scaled integers (exact, order-free —
  * see [[scaledSum]]) and are rounded to 6 decimals.
  *
  * Scale: centroids are O(labels × dim) — tiny, always broadcastable; the
  * scoring join explodes vectors once and hash-aggregates; at 100 TB the
  * explode+join shape shuffles only (vec, pos, x) tuples, and the
  * mapPartitions path avoids even that (model broadcast, no shuffle —
  * the reference's "embarrassingly parallel" property).
  */
object Inference {
  import Tables._

  // The centroid→score→pred pipeline feeds 7 declared queries; persist the
  // shared stages once per (session, sfDir) so the eval family reuses them
  // instead of recomputing the explode+aggregate chain. Cached frames are
  // tiny (≤ vectors × labels rows).
  private val cache = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  private def cached(s: SparkSession, d: String, key: String)(mk: => DataFrame): DataFrame = {
    val k = s"${s.hashCode()}|$d|$key"
    // NOTE (round 15): an eager fill (persist + count) was tried to stop
    // the cold path's concurrent branches from racing the cache fill (at
    // the time, four simultaneous score stages in one cold
    // eval_kappa_mcc; kappa now reads `preds` once, so the remaining
    // racer is a multi-branch reader such as eval_per_class's two join
    // sides) — and REVERTED: materializing at build time flips
    // every downstream plan's InMemoryRelation to its executed form,
    // which triples the printed exchange counts the shuffle-budget pins
    // key on; re-pinning 3× budgets would blunt that tripwire for a
    // cold-only win. The race costs duplicate work once per session.
    val df = cache.getOrElseUpdate(k, mk.persist())
    // identity-hash keys can collide after a session is GC'd/stopped:
    // validate the cached frame still belongs to THIS session.
    if (df.sparkSession eq s) df
    else { val fresh = mk.persist(); cache.update(k, fresh); fresh }
  }

  /** Exploded (vec_id, label, pos, x) with x as exact double. */
  private def vexp(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .withColumn("x", col("xf").cast("double")).drop("xf")

  // Exact order-free sums on the hot path use scaled integers — floor(v·1e12)
  // as BIGINT — instead of DECIMAL(30,_): same determinism guarantee (floor
  // of the identical double is identical on both engines; long sums are
  // exact), but native-long aggregation instead of the BigDecimal slow path.
  // Magnitudes are bounded (|x|,|x·c| < 1, ≤ thousands of terms per group),
  // so the scaled sums stay far below 2^63.
  private def scaledSum(c: Column): Column =
    sum(floor(c * lit(1.0e12)).cast(LongType)).cast(DoubleType) / lit(1.0e12)

  /** Per-label mean vector, long form (clabel, pos, c) — the "model". */
  def centroids(s: SparkSession, d: String): DataFrame =
    cached(s, d, "centroids") {
      vexp(s, d)
        .groupBy(col("label").as("clabel"), col("pos"))
        .agg((scaledSum(col("x")) / count(lit(1))).as("cm"))
        .select(col("clabel"), col("pos"), round(col("cm"), 6).as("c"))
    }

  /** Dot-product scores of every vector against every centroid. */
  def scores(s: SparkSession, d: String): DataFrame =
    cached(s, d, "scores") {
      vexp(s, d)
        .join(broadcast(centroids(s, d)), "pos")
        .groupBy("vec_id", "label", "clabel")
        .agg(round(scaledSum(col("x") * col("c")), 6).as("score"))
    }

  /** Predictions: argmax score per vector, ties to lowest label. */
  def preds(s: SparkSession, d: String): DataFrame =
    cached(s, d, "preds") {
      val w = Window.partitionBy(col("vec_id")).orderBy(col("score").desc, col("clabel"))
      scores(s, d)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("vec_id"), col("label"), col("clabel").as("pred"), col("score"))
    }

  /** Cohen's κ and the R_K (multiclass MCC) statistic of a `(label,
    * pred)` relation as one row `(n, tr, sum_rc, kappa, mcc)`.
    *
    * `preds` is read once: it is grouped into the confusion matrix
    * `(label, pred, c)` — at most classes² rows — and the matrix is
    * collected into one array by a single global aggregate. The marginals
    * are then folded out of that array in one projection with
    * higher-order functions: n = Σc, tr = Σc on the diagonal, and per
    * class the row total rt and column total ct, giving Σrt·ct, Σrt² and
    * Σct². Two Spark jobs, no join.
    *
    * Everything up to the final ops is exact BIGINT arithmetic — κ =
    * (n·tr − Σrt·ct)/(n² − Σrt·ct) is a single division of exact integers;
    * MCC adds one sqrt over doubles cast from exact integers, the same
    * fixed-dag discipline as eval_auc.
    *
    * NULL semantics are those of the SQL formulation in the oracle
    * (row/column totals as `GROUP BY` relations, Σrt·ct over their inner
    * join on the class key):
    *  - empty input: n = 0, every other column NULL;
    *  - a NULL label (or pred) is its own row (column) class in Σrt²
    *    (Σct²), but never matches in Σrt·ct;
    *  - Σrt·ct is NULL when no class is both a label and a prediction;
    *  - a class present only as a label or only as a prediction still
    *    counts in its own marginal sum.
    */
  def kappaMcc(preds: DataFrame): DataFrame = {
    val cells = col("m")
    def total(xs: Column)(f: Column => Column): Column =
      aggregate(xs, lit(0L), (acc, x) => acc + f(x))
    def margin(side: String, k: Column): Column =
      total(filter(cells, x => x(side) <=> k))(_("c"))
    def sumSq(side: String): Column =
      total(array_distinct(transform(cells, _(side))))(k =>
        margin(side, k) * margin(side, k))
    val shared = filter(array_distinct(transform(cells, _("label"))),
      k => exists(cells, _("pred") === k))
    val nonEmpty = size(cells) > 0
    preds.groupBy("label", "pred").agg(count(lit(1)).as("c"))
      .agg(collect_list(struct(col("label"), col("pred"), col("c"))).as("m"))
      .select(
        total(cells)(_("c")).as("n"),
        when(nonEmpty, total(cells)(x =>
          when(x("label") === x("pred"), x("c")).otherwise(0L))).as("tr"),
        when(size(shared) > 0, total(shared)(k =>
          margin("label", k) * margin("pred", k))).as("sum_rc"),
        when(nonEmpty, sumSq("label")).as("sum_r2"),
        when(nonEmpty, sumSq("pred")).as("sum_c2"))
      .select(col("n"), col("tr"), col("sum_rc"),
        round((col("n") * col("tr") - col("sum_rc")).cast("double") /
          (col("n") * col("n") - col("sum_rc")).cast("double"), 6)
          .as("kappa"),
        round((col("n") * col("tr") - col("sum_rc")).cast("double") /
          sqrt((col("n") * col("n") - col("sum_r2")).cast("double") *
            (col("n") * col("n") - col("sum_c2")).cast("double")), 6)
          .as("mcc"))
  }

  // --- identical CTE text for the DuckDB oracle ---------------------------
  private val vexpSql =
    """vexp AS (
         SELECT vec_id, label, u.pos, u.x FROM (
           SELECT vec_id, label,
             unnest(list_transform(embedding, (e, i) -> {'pos': i - 1, 'x': CAST(e AS DOUBLE)})) AS u
           FROM embeddings))"""
  private val centroidsSql =
    """centroids AS (
         SELECT label AS clabel, pos,
           round(CAST(sum(CAST(floor(x * 1.0e12) AS BIGINT)) AS DOUBLE) / 1.0e12
             / count(*), 6) AS c
         FROM vexp GROUP BY label, pos)"""
  private val scoresSql =
    """scores AS (
         SELECT v.vec_id, v.label, ct.clabel,
           round(CAST(sum(CAST(floor((v.x * ct.c) * 1.0e12) AS BIGINT)) AS DOUBLE)
             / 1.0e12, 6) AS score
         FROM vexp v JOIN centroids ct ON v.pos = ct.pos
         GROUP BY v.vec_id, v.label, ct.clabel)"""
  private val predsSql =
    """preds AS (
         SELECT vec_id, label, clabel AS pred, score FROM (
           SELECT vec_id, label, clabel, score,
             row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, clabel) AS rn
           FROM scores) WHERE rn = 1)"""
  private val base = s"WITH $vexpSql,\n$centroidsSql"
  private val full = s"$base,\n$scoresSql,\n$predsSql"

  /** The centroid→score→pred CTE chain (without leading WITH) for reuse by
    * other oracle queries (e.g. IVF-style cluster-pruned search).
    */
  val predsCtesSql: String =
    s"$vexpSql,\n$centroidsSql,\n$scoresSql,\n$predsSql"

  val all: Seq[Spec] = Seq(
    // resize/normalize preprocessing → L2 normalization. The first four
    // unit-vector elements are projected as scalar DOUBLE columns (u1..u4):
    // array-typed output columns break the driver's pandas hash compare.
    Spec("infer_preprocess",
      (s, d) => {
        def u(i: Int) =
          round(element_at(col("embedding"), i).cast("double") / col("norm"), 6).as(s"u$i")
        t(s, d, "embeddings")
          .withColumn("norm",
            sqrt(aggregate(transform(col("embedding"), x => x.cast("double") * x.cast("double")),
              lit(0.0), (a, x) => a + x)))
          .select(
            col("vec_id"), col("label"),
            round(col("norm"), 6).as("l2_norm"),
            u(1), u(2), u(3), u(4))
          .orderBy("vec_id")
      },
      Some("""SELECT vec_id, label,
                round(norm, 6) AS l2_norm,
                round(CAST(embedding[1] AS DOUBLE) / norm, 6) AS u1,
                round(CAST(embedding[2] AS DOUBLE) / norm, 6) AS u2,
                round(CAST(embedding[3] AS DOUBLE) / norm, 6) AS u3,
                round(CAST(embedding[4] AS DOUBLE) / norm, 6) AS u4
              FROM (
                SELECT vec_id, label, embedding,
                  sqrt(list_reduce(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS norm
                FROM embeddings)
              ORDER BY vec_id""")),

    // "model fit" as a deterministic aggregation — per-label mean vectors.
    Spec("infer_centroids",
      (s, d) => centroids(s, d).orderBy("clabel", "pos"),
      Some(s"""$base
               SELECT clabel, pos, c FROM centroids ORDER BY clabel, pos""")),

    // forward pass — broadcast the model, dot every vector against it.
    Spec("infer_score",
      (s, d) => scores(s, d).orderBy("vec_id", "clabel"),
      Some(s"""$base,
               $scoresSql
               SELECT vec_id, label, clabel, score FROM scores
               ORDER BY vec_id, clabel""")),

    Spec("infer_argmax",
      (s, d) => preds(s, d).orderBy("vec_id"),
      Some(s"""$full
               SELECT vec_id, label, pred, score FROM preds ORDER BY vec_id""")),

    // DuckDB sums of CASE are HUGEINT (pandas → float64); CAST to BIGINT on
    // the oracle side and derive accuracy via an explicit DOUBLE/COUNT on
    // both engines so the integer and ratio columns hash identically.
    Spec("eval_accuracy",
      (s, d) => preds(s, d).agg(
        count(lit(1)).as("n"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("n_correct"),
        (sum(when(col("pred") === col("label"), 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("accuracy")),
      Some(s"""$full
               SELECT count(*) AS n,
                 CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
                 (CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS DOUBLE) / count(*)) AS accuracy
               FROM preds""")),

    Spec("eval_confusion",
      (s, d) => preds(s, d)
        .groupBy("label", "pred").agg(count(lit(1)).as("n"))
        .orderBy("label", "pred"),
      Some(s"""$full
               SELECT label, pred, count(*) AS n FROM preds
               GROUP BY label, pred ORDER BY label, pred""")),

    // per-class precision/recall/F1 from filtered counts; divisions are
    // identical IEEE ops on identical integers → bit-identical.
    Spec("eval_per_class",
      (s, d) => {
        val p = preds(s, d)
        val byLabel = p.groupBy(col("label").as("clazz"))
          .agg(count(lit(1)).as("n_actual"),
            sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("tp"))
        val byPred = p.groupBy(col("pred").as("clazz"))
          .agg(count(lit(1)).as("n_predicted"))
        byLabel.join(byPred, Seq("clazz"), "full")
          .select(
            col("clazz"),
            coalesce(col("n_actual"), lit(0L)).as("n_actual"),
            coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
            coalesce(col("tp"), lit(0L)).as("tp"))
          .withColumn("precision", col("tp") / nullif(col("n_predicted"), lit(0)))
          .withColumn("recall", col("tp") / nullif(col("n_actual"), lit(0)))
          .withColumn("f1",
            lit(2.0) * col("precision") * col("recall") /
              nullif(col("precision") + col("recall"), lit(0.0)))
          .orderBy("clazz")
      },
      Some(s"""$full,
               by_label AS (
                 SELECT label AS clazz, count(*) AS n_actual,
                   sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS tp
                 FROM preds GROUP BY label),
               by_pred AS (
                 SELECT pred AS clazz, count(*) AS n_predicted FROM preds GROUP BY pred),
               j AS (
                 SELECT coalesce(l.clazz, p.clazz) AS clazz,
                   CAST(coalesce(l.n_actual, 0) AS BIGINT) AS n_actual,
                   CAST(coalesce(p.n_predicted, 0) AS BIGINT) AS n_predicted,
                   CAST(coalesce(l.tp, 0) AS BIGINT) AS tp
                 FROM by_label l FULL JOIN by_pred p ON l.clazz = p.clazz)
               SELECT clazz, n_actual, n_predicted, tp,
                 (tp / nullif(n_predicted, 0)) AS precision,
                 (tp / nullif(n_actual, 0)) AS recall,
                 (2.0 * (tp / nullif(n_predicted, 0)) * (tp / nullif(n_actual, 0)) /
                   nullif((tp / nullif(n_predicted, 0)) + (tp / nullif(n_actual, 0)), 0.0)) AS f1
               FROM j ORDER BY clazz""")),

    Spec("eval_topk_err",
      (s, d) => preds(s, d)
        .where(col("pred") =!= col("label"))
        .orderBy(desc("score"), asc("vec_id"))
        .limit(20),
      Some(s"""$full
               SELECT vec_id, label, pred, score FROM preds
               WHERE pred <> label
               ORDER BY score DESC, vec_id LIMIT 20""")),

    // ROC AUC by rank-sum (Mann-Whitney U): AUC = (Σ ranks of positives −
    // nPos(nPos+1)/2) / (nPos·nNeg), with AVERAGE ranks for ties. Written
    // for bit-determinism: the average rank of a tie group is
    // (min_rn + max_rn)/2, so we keep 2·rank = min_rn + max_rn as an exact
    // BIGINT per distinct score, sum INTEGERS, and perform exactly one
    // float division at the end — no order-dependent float accumulation
    // anywhere, so both engines agree to the bit before the final round.
    // Tie-safe by construction: every row of a tie group carries the same
    // r2, so row_number's arbitrary order within ties cannot leak out.
    // Scale: exact AUC requires a total order on scores — provided by
    // ScalableCumulate's bucketed two-pass row number (16-way parallel,
    // no single-partition window). Tied scores rank arbitrarily WITHIN a
    // bucket, but ties never straddle buckets, so the per-score
    // min(rn)+max(rn) midrank is exact — the same tie-insensitivity the
    // single-window formulation relied on.
    Spec("eval_auc",
      (s, d) => {
        val sc = t(s, d, "embeddings")
          .select(element_at(col("embedding"), 1).cast("double").as("score"),
            when(col("label") === 1, 1L).otherwise(0L).as("y"))
        val rk = ScalableCumulate.rowNumber(sc, col("score"),
          ascending = true, Seq(col("score")), "rn")._1
        val ar = rk.groupBy("score").agg((min("rn") + max("rn")).as("r2"))
        rk.join(ar, "score")
          .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
            sum(when(col("y") === 1, col("r2")).otherwise(0L)).as("sum_r2"))
          .select(col("n_pos"),
            round(((col("sum_r2").cast("double") / 2.0) -
              (col("n_pos") * (col("n_pos") + 1)).cast("double") / 2.0) /
              (col("n_pos") * (col("n") - col("n_pos"))).cast("double"), 6)
              .as("auc"))
      },
      Some("""WITH s AS (
                SELECT CAST(embedding[1] AS DOUBLE) AS score,
                       CASE WHEN label = 1 THEN 1 ELSE 0 END AS y
                FROM embeddings),
              rk AS (
                SELECT score, y,
                       row_number() OVER (ORDER BY score) AS rn FROM s),
              ar AS (
                SELECT score, min(rn) + max(rn) AS r2
                FROM rk GROUP BY score),
              ag AS (
                SELECT count(*) AS n,
                       CAST(sum(y) AS BIGINT) AS n_pos,
                       CAST(sum(CASE WHEN y = 1 THEN r2 ELSE 0 END) AS BIGINT)
                         AS sum_r2
                FROM rk JOIN ar ON rk.score = ar.score)
              SELECT CAST(n_pos AS BIGINT) AS n_pos,
                     round((CAST(sum_r2 AS DOUBLE) / 2.0 -
                            CAST(n_pos * (n_pos + 1) AS DOUBLE) / 2.0) /
                           CAST(n_pos * (n - n_pos) AS DOUBLE), 6) AS auc
              FROM ag""")),

    // Precision/recall threshold sweep — eval_auc's operational twin: at
    // which score cutoff does the classifier ship? A 5-literal threshold
    // array is exploded against the scored rows (generate, NOT a
    // cartesian plan), then one hash aggregate per threshold over exact
    // integer TP/FP counts; precision and recall are each a single
    // division of exact integers (NULL-guarded when a cutoff predicts
    // nothing positive), so both engines agree to the bit before round.
    // Scale: one pass over the eval set, 5× fan-out, aggregate keyed on
    // 5 thresholds — map-side partials absorb nearly everything.
    Spec("eval_pr_curve",
      (s, d) => {
        val sc = t(s, d, "embeddings")
          .select(element_at(col("embedding"), 1).cast("double").as("score"),
            when(col("label") === 1, 1L).otherwise(0L).as("y"))
        sc.select(col("score"), col("y"),
            explode(array(Seq(-0.2, -0.1, 0.0, 0.1, 0.2).map(lit): _*)).as("th"))
          .groupBy("th")
          .agg(sum(when(col("score") >= col("th"), col("y")).otherwise(0L)).as("tp"),
            sum(when(col("score") >= col("th"), lit(1L) - col("y")).otherwise(0L)).as("fp"),
            sum(col("y")).as("pos"))
          .select(col("th"), col("tp"), col("fp"),
            round(col("tp").cast("double") /
              when(col("tp") + col("fp") > 0,
                (col("tp") + col("fp")).cast("double")), 6).as("prec"),
            round(col("tp").cast("double") / col("pos").cast("double"), 6)
              .as("rec"))
          .orderBy("th")
      },
      Some("""WITH s AS (
                SELECT CAST(embedding[1] AS DOUBLE) AS score,
                       CASE WHEN label = 1 THEN 1 ELSE 0 END AS y
                FROM embeddings),
              th AS (SELECT unnest([-0.2, -0.1, 0.0, 0.1, 0.2]) AS th),
              ag AS (
                SELECT th,
                  CAST(sum(CASE WHEN score >= th THEN y ELSE 0 END) AS BIGINT)
                    AS tp,
                  CAST(sum(CASE WHEN score >= th THEN 1 - y ELSE 0 END)
                    AS BIGINT) AS fp,
                  CAST(sum(y) AS BIGINT) AS pos
                FROM s CROSS JOIN th GROUP BY th)
              SELECT th, tp, fp,
                round(CASE WHEN tp + fp > 0
                  THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END, 6)
                  AS prec,
                round(CAST(tp AS DOUBLE) / CAST(pos AS DOUBLE), 6) AS rec
              FROM ag ORDER BY th""")),

    // Calibration / reliability table — eval_auc's diagnostic sibling:
    // does a higher score actually mean a higher empirical positive rate?
    // Scores are cut into deciles by ntile over a TOTALLY ordered key
    // (score, vec_id — ties must land deterministically for the bin
    // populations to match across engines); each bin reports only exact
    // integers, raw min/max score endpoints, and ONE division — zero
    // float accumulation, the eval_auc discipline. Bins come from
    // ScalableCumulate's two-pass row number + arithmetic ntile over the
    // total (score, vec_id) order — no single-partition window even if
    // the eval set grows to corpus scale.
    Spec("eval_calibration",
      (s, d) => {
        val sc = t(s, d, "embeddings")
          .select(col("vec_id"),
            element_at(col("embedding"), 1).cast("double").as("score"),
            when(col("label") === 1, 1L).otherwise(0L).as("y"))
        val (rn, n) = ScalableCumulate.rowNumber(sc, col("score"),
          ascending = true, Seq(col("score"), col("vec_id")), "__rn")
        rn.withColumn("bin",
            ScalableCumulate.ntileOf(col("__rn"), n, 10).cast("int"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
            round(sum("y").cast("double") / count(lit(1)), 6).as("pos_rate"),
            min("score").as("lo_score"), max("score").as("hi_score"))
          .orderBy("bin")
      },
      Some("""WITH s AS (
                SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS score,
                       CASE WHEN label = 1 THEN 1 ELSE 0 END AS y
                FROM embeddings),
              b AS (
                SELECT *, ntile(10) OVER (ORDER BY score, vec_id) AS bin
                FROM s)
              SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
                round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS pos_rate,
                min(score) AS lo_score, max(score) AS hi_score
              FROM b GROUP BY bin ORDER BY bin""")),

    // Chance-corrected agreement: multiclass Cohen's κ and the R_K
    // (multiclass MCC) statistic in ONE summary row — see [[kappaMcc]].
    Spec("eval_kappa_mcc",
      (s, d) => kappaMcc(preds(s, d)),
      Some(s"""$full,
              conf AS (SELECT label, pred, count(*) AS c FROM preds
                       GROUP BY 1, 2),
              r AS (SELECT label AS k, CAST(sum(c) AS BIGINT) AS rt
                    FROM conf GROUP BY 1),
              cl AS (SELECT pred AS k, CAST(sum(c) AS BIGINT) AS ct
                     FROM conf GROUP BY 1),
              tot AS (
                SELECT count(*) AS n,
                  CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END)
                    AS BIGINT) AS tr
                FROM preds),
              rc AS (SELECT CAST(sum(r.rt * cl.ct) AS BIGINT) AS sum_rc
                     FROM r JOIN cl ON r.k = cl.k),
              r2 AS (SELECT CAST(sum(rt * rt) AS BIGINT) AS sum_r2 FROM r),
              c2 AS (SELECT CAST(sum(ct * ct) AS BIGINT) AS sum_c2 FROM cl)
              SELECT n, tr, sum_rc,
                round(CAST(n * tr - sum_rc AS DOUBLE) /
                      CAST(n * n - sum_rc AS DOUBLE), 6) AS kappa,
                round(CAST(n * tr - sum_rc AS DOUBLE) /
                      sqrt(CAST(n * n - sum_r2 AS DOUBLE) *
                           CAST(n * n - sum_c2 AS DOUBLE)), 6) AS mcc
              FROM tot, rc, r2, c2""")),

    // Feature-bagged ensemble vote — three centroid models, model m
    // scoring only the dimensions with pos % 3 ≠ m (the random-subspace
    // ensemble, made deterministic), majority vote with ties to the
    // lowest class. The model dimension is an exploded literal, so all
    // three forward passes run in ONE scan of the exploded vectors and
    // one broadcast of the shared centroid table; per-model argmax and
    // the vote are two window/groupBy passes over the vec grain. Same
    // scaled-integer dot products as the base model — exact, order-free.
    Spec("infer_ensemble_vote",
      (s, d) => {
        val ms = vexp(s, d)
          .withColumn("m", explode(array(lit(0), lit(1), lit(2))))
          .where(col("pos") % 3 =!= col("m"))
        val sc = ms.join(broadcast(centroids(s, d)), "pos")
          .groupBy("vec_id", "label", "m", "clabel")
          .agg(round(scaledSum(col("x") * col("c")), 6).as("score"))
        val wM = Window.partitionBy("vec_id", "m").orderBy(desc("score"), asc("clabel"))
        val pm = sc.withColumn("rn", row_number().over(wM)).where(col("rn") === 1)
          .select(col("vec_id"), col("label"), col("clabel").as("pred"))
        val votes = pm.groupBy("vec_id", "label", "pred")
          .agg(count(lit(1)).as("n_votes"))
        val wV = Window.partitionBy("vec_id").orderBy(desc("n_votes"), asc("pred"))
        votes.withColumn("rn", row_number().over(wV)).where(col("rn") === 1)
          .select(col("vec_id"), col("label"), col("pred").as("pred_ens"),
            col("n_votes"), (col("pred") === col("label")).as("correct"))
          .orderBy("vec_id")
      },
      Some(s"""$base,
               ms AS (
                 SELECT v.*, u.m FROM vexp v,
                   (SELECT unnest([0, 1, 2]) AS m) u
                 WHERE v.pos % 3 <> u.m),
               sc AS (
                 SELECT v.vec_id, v.label, v.m, ct.clabel,
                   round(CAST(sum(CAST(floor((v.x * ct.c) * 1.0e12) AS BIGINT))
                     AS DOUBLE) / 1.0e12, 6) AS score
                 FROM ms v JOIN centroids ct ON v.pos = ct.pos
                 GROUP BY v.vec_id, v.label, v.m, ct.clabel),
               pm AS (
                 SELECT vec_id, label, clabel AS pred FROM (
                   SELECT vec_id, label, clabel, score,
                     row_number() OVER (PARTITION BY vec_id, m
                       ORDER BY score DESC, clabel) AS rn
                   FROM sc) WHERE rn = 1),
               votes AS (
                 SELECT vec_id, label, pred, count(*) AS n_votes
                 FROM pm GROUP BY 1, 2, 3)
               SELECT vec_id, label, pred AS pred_ens,
                 CAST(n_votes AS BIGINT) AS n_votes, (pred = label) AS correct
               FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY n_votes DESC, pred) AS rn
                 FROM votes) WHERE rn = 1
               ORDER BY vec_id"""))
  )

  private def nullif(c: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =
    when(c === v, lit(null)).otherwise(c)
}
