package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the text family's per-document kernels to the token-grain
  * formulations they replaced, kept here as referees over one edge
  * corpus:
  *  - text_winnowing (split once, trigram md5s and 4-wide window minima
  *    as arrays inside the row) against posexplode, two `lead`s and a
  *    4-row frame per doc_id, `cnt = 4` filter, groupBy;
  *  - text_ngram and text_decontaminate (`ngrams` generator) against
  *    `lead` windows over the (doc_id, pos) token stream;
  *  - text_repetition (one projection over the token array) against the
  *    bigram window, two group-bys and the join back to `documents`;
  *  - dedup_simhash (bit votes as an `aggregate` inside the row) against
  *    the token × 16-bit explode and its two group-bys.
  * The sf fixtures have no doc under 10 tokens and no empty, NULL or
  * multi-byte token, so this spec builds a corpus that does:
  *  - doc 0: empty text (`split` yields `[""]`, one token);
  *  - docs 1, 2, 3: 5, 6 and 7 tokens — below, at and just past the
  *    one-full-window threshold;
  *  - doc 4: consecutive, leading and trailing spaces (empty tokens
  *    inside trigrams);
  *  - doc 5: one trigram repeated (duplicate hashes and minima);
  *  - doc 6: multi-byte UTF-8 tokens;
  *  - docs 7 and 23: NULL text, on both sides of text_decontaminate's
  *    `doc_id < 20` benchmark split;
  *  - docs 8 and 22: two tokens (one bigram, no trigram);
  *  - doc 9: two bigrams tied for the most repeated;
  *  - docs 10, 11: the same text (one simhash shared by exactly two);
  *  - docs 20, 21: corpus docs whose trigrams all / half occur in the
  *    benchmark docs.
  * Every doc past 6 is under 6 tokens, so winnowing's rows are unchanged.
  */
class WinnowingFixtureSpec extends AnyFunSuite {
  private val s = TestSpark.spark

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_winnow_")
    d.toFile.deleteOnExit()
    import s.implicits._
    Seq[(Long, String)](
      (0L, ""),
      (1L, "a b c d e"),
      (2L, "a b c d e f"),
      (3L, "q w e r t y u"),
      (4L, " x  y   z w  v u t "),
      (5L, "la la la la la la la la la la la"),
      (6L, "naïve café 日本語 übung x y 日本語 z"),
      (7L, null),
      (8L, "p q"),
      (9L, "x y x y x"),
      (10L, "k l m"),
      (11L, "k l m"),
      (20L, "b c d e"),
      (21L, "c d e q"),
      (22L, "m n"),
      (23L, null))
      .toDF("doc_id", "text")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d.toString
  }

  private def docs(d: String): DataFrame = s.read.parquet(s"$d/documents.parquet")

  /** The (doc_id, pos, token) stream the referees window over. */
  private def toks(d: String): DataFrame =
    docs(d).select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "token")))

  private val byPos = Window.partitionBy("doc_id").orderBy("pos")

  /** The posexplode/lead/window formulation the kernel replaced. */
  private def referee(d: String): DataFrame = {
    val fw = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    toks(d)
      .withColumn("t2", lead(col("token"), 1).over(byPos))
      .withColumn("t3", lead(col("token"), 2).over(byPos))
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

  /** text_ngram's bigrams by a lead() window. */
  private def ngramReferee(d: String): DataFrame =
    toks(d)
      .withColumn("nxt", lead(col("token"), 1).over(byPos))
      .where(col("nxt").isNotNull)
      .select(concat(col("token"), lit(" "), col("nxt")).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("bigram")).limit(20)

  /** text_repetition's bigram window, group-bys and join. */
  private def repetitionReferee(d: String): DataFrame = {
    val bigrams = toks(d)
      .withColumn("nxt", lead(col("token"), 1).over(byPos))
      .where(col("nxt").isNotNull)
      .groupBy(col("doc_id"), concat(col("token"), lit(" "), col("nxt")).as("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(max("cnt").as("max_bigram"), sum("cnt").as("n_bigrams"))
    docs(d)
      .withColumn("arr", split(col("text"), " "))
      .select(col("doc_id"),
        size(col("arr")).cast("long").as("n_tokens"),
        size(array_distinct(col("arr"))).cast("long").as("n_distinct"))
      .join(bigrams, "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"), 6)
          .as("dup_token_ratio"),
        round(col("max_bigram").cast("double") / col("n_bigrams"), 6)
          .as("top_bigram_frac"))
      .withColumn("repetitive",
        col("dup_token_ratio") > 0.9 || col("top_bigram_frac") > 0.18)
      .orderBy("doc_id")
  }

  /** text_decontaminate's trigrams by two lead() windows. */
  private def decontaminateReferee(d: String): DataFrame = {
    val tri = toks(d)
      .withColumn("t2", lead(col("token"), 1).over(byPos))
      .withColumn("t3", lead(col("token"), 2).over(byPos))
      .where(col("t3").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("token"), col("t2"), col("t3")).as("tri"))
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
  }

  /** dedup_simhash's token × 16-bit explode and two group-bys. */
  private def simhashReferee(d: String): DataFrame = {
    val rollhash =
      """aggregate(filter(split(token, ''), ch -> ch != ''), CAST(0 AS BIGINT),
           (acc, ch) -> (acc * 31 + ascii(ch)) % 1073741824)"""
    val th = docs(d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .withColumn("h", expr(rollhash))
    val sj = th.select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(15))).as("j"))
      .groupBy("doc_id", "j")
      .agg(sum(when(expr("(shiftright(h, j) & 1)") === 1, 1).otherwise(-1)).as("sgn"))
    sj.withColumn("bitval",
        when(col("sgn") > 0, expr("shiftleft(CAST(1 AS BIGINT), j)")).otherwise(0L))
      .groupBy("doc_id").agg(sum("bitval").as("simhash"))
      .withColumn("n_same", count(lit(1)).over(Window.partitionBy("simhash")))
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

  /** The query's rows, in order and under the referee's column names. */
  private def sameRows(query: String, want: DataFrame): Seq[Row] = {
    val got = SparkEntry.queries(query)(s, dir)
    assert(got.columns.toSeq == want.columns.toSeq)
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g == w, s"$query: ${g.diff(w)} not in the referee, ${w.diff(g)} missing")
    w
  }

  private def byDoc(rs: Seq[Row]): Map[Long, Row] = rs.map(r => r.getLong(0) -> r).toMap

  test("text_ngram returns exactly the referee's rows") {
    val want = sameRows("text_ngram", ngramReferee(dir))
    assert(want.size == 20)
    assert(want.head == Row("la la", 10L), s"top bigram: ${want.head}")
    // across docs: once in doc 6, twice in doc 9
    assert(want.contains(Row("x y", 3L)), s"rows: $want")
  }

  test("text_repetition returns exactly the referee's rows") {
    val want = byDoc(sameRows("text_repetition", repetitionReferee(dir)))
    // docs under 2 tokens (empty, NULL) have no bigram and no row
    assert(!want.contains(0L) && !want.contains(7L) && !want.contains(23L))
    assert(want.contains(8L) && want.contains(22L))
    // "x y" and "y x" tie at 2 of doc 9's 4 bigrams
    assert(want(9L).getDouble(3) == 0.5)
  }

  test("text_decontaminate returns exactly the referee's rows") {
    val want = byDoc(sameRows("text_decontaminate", decontaminateReferee(dir)))
    // only corpus docs with a trigram have a row
    assert(want.keySet == Set(20L, 21L))
    assert(want(20L).getLong(2) == 2L && want(20L).getBoolean(4))
    assert(want(21L).getLong(2) == 1L && !want(21L).getBoolean(4))
  }

  test("dedup_simhash returns exactly the referee's rows") {
    val want = byDoc(sameRows("dedup_simhash", simhashReferee(dir)))
    assert(!want.contains(7L) && !want.contains(23L), "NULL texts have no signature")
    assert(want(10L).getLong(1) == want(11L).getLong(1))
    assert(want(10L).getLong(2) == 2L)
  }
}
