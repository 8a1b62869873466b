package graft.ops

import graft.{Spec, Tables}
import graft.functions.ScaledDotExpr
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, size}

/** The reference's literal scoring mechanism: an opaque model broadcast to
  * executors, scored inside `mapPartitions` so the model is realized once
  * per partition, not once per row — no shuffle anywhere in the scoring
  * stage (the "embarrassingly parallel" property).
  *
  * The model is [[Inference.model]]'s one row (10 labels × 64 positions),
  * collected — never data — and broadcast: a few KB, like the reference's
  * CNN weights. The dot products sum the SQL kernel's longs, so the rows
  * equal [[Inference.preds]]. Elements are assumed non-NULL.
  */
object InferMapPartitions {
  import Tables._

  final case class Emb(vec_id: Long, embedding: Seq[Float], label: Int)

  def scoreMapPartitions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // "Model fit" (tiny: labels × dim, label-sorted) → driver → broadcast.
    val model: Array[(Int, Array[Double])] =
      Inference.model(s, d).head().getSeq[Row](0)
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toArray
    val bc = s.sparkContext.broadcast(model)

    t(s, d, "embeddings").where(size(col("embedding")) > 0).as[Emb].mapPartitions { it =>
      val m = bc.value // realized once per partition, like the reference's model load
      it.map { e =>
        val x = e.embedding.toArray
        val dots = m.map { case (_, c) =>
          var acc = 0L; var j = 0
          while (j < math.min(x.length, c.length)) { acc += ScaledDotExpr.term(x(j), c(j)); j += 1 }
          acc
        }
        // Spark's round(dot / 1e12, 6); the lowest label whose score ties the
        // top one wins, and only a dot within 2e-6 of the top can tie it
        def round6(dot: Long) = BigDecimal(dot / 1.0e12).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val top = dots.max
        val score = round6(top)
        val best = dots.indexWhere(dot => top - dot <= 2000000L && round6(dot) == score)
        (e.vec_id, e.label, m(best)._1, score)
      }
    }.toDF("vec_id", "label", "pred", "score")
  }

  val all: Seq[Spec] = Seq(
    Spec("infer_mapp_argmax",
      (s, d) => scoreMapPartitions(s, d).select("vec_id", "label", "pred").orderBy("vec_id"),
      Some(s"""WITH ${Inference.predsCtesSql}
               SELECT vec_id, label, pred FROM preds ORDER BY vec_id"""))
  )
}
