package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins text_winnowing's per-document kernel (split once, trigram md5s
  * and 4-wide window minima as arrays inside the row) to the row-grain
  * formulation it replaced — posexplode, two `lead`s and a 4-row frame
  * per doc_id, `cnt = 4` filter, groupBy — kept here as the referee.
  * The sf fixtures have no doc under 10 tokens and no empty or
  * multi-byte token, so this spec builds a corpus that does:
  *  - doc 0: empty text (`split` yields `[""]`, one token);
  *  - docs 1, 2, 3: 5, 6 and 7 tokens — below, at and just past the
  *    one-full-window threshold;
  *  - doc 4: consecutive, leading and trailing spaces (empty tokens
  *    inside trigrams);
  *  - doc 5: one trigram repeated (duplicate hashes and minima);
  *  - doc 6: multi-byte UTF-8 tokens.
  */
class WinnowingFixtureSpec extends AnyFunSuite {
  private val s = TestSpark.spark

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_winnow_")
    d.toFile.deleteOnExit()
    import s.implicits._
    Seq(
      (0L, ""),
      (1L, "a b c d e"),
      (2L, "a b c d e f"),
      (3L, "q w e r t y u"),
      (4L, " x  y   z w  v u t "),
      (5L, "la la la la la la la la la la la"),
      (6L, "naïve café 日本語 übung x y 日本語 z"))
      .toDF("doc_id", "text")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d.toString
  }

  /** The posexplode/lead/window formulation the kernel replaced. */
  private def referee(d: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val fw = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    s.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .withColumn("t2", lead(col("token"), 1).over(w))
      .withColumn("t3", lead(col("token"), 2).over(w))
      .where(col("t3").isNotNull)
      .select(col("doc_id"), col("pos"),
        md5(concat_ws(" ", col("token"), col("t2"), col("t3"))).as("h"))
      .withColumn("fp", min(col("h")).over(fw))
      .withColumn("cnt", count(lit(1)).over(fw))
      .where(col("cnt") === 4)
      .groupBy("doc_id")
      .agg(countDistinct(col("fp")).as("n_fp"),
        min(col("fp")).as("fp_min"), max(col("fp")).as("fp_max"))
      .orderBy("doc_id")
  }

  private def rows(df: DataFrame): Seq[(Long, Long, String, String)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq

  test("the per-document kernel returns exactly the referee's rows") {
    val got = rows(SparkEntry.queries("text_winnowing")(s, dir))
    val want = rows(referee(dir))
    assert(got == want)
    // docs 2..6 have >= 6 tokens (doc 4 counts its empty tokens)
    assert(want.map(_._1) == Seq(2L, 3L, 4L, 5L, 6L), s"referee rows: $want")
    // one window for 6 tokens; a single repeated trigram has one minimum
    assert(want.find(_._1 == 2L).exists(_._2 == 1L))
    assert(want.find(_._1 == 5L).exists(_._2 == 1L))
  }

  test("docs under 6 tokens are absent from both formulations") {
    for (df <- Seq(SparkEntry.queries("text_winnowing")(s, dir), referee(dir))) {
      val ids = df.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(!ids.contains(0L) && !ids.contains(1L), s"short docs present: $ids")
    }
  }
}
