package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions._

/** Each native expression the corpus_heavy queries evaluate, called alone
  * through its public Column function over its fixture input column and
  * written to the noop sink. The input is cached first, so the timed
  * write measures the expression plus a scan of cached rows; the same
  * write without the expression is subtracted.
  */
object Functions {
  private final case class Micro(input: (SparkSession, String) => DataFrame,
      expr: SparkSession => Column)

  private def text(s: SparkSession, d: String) =
    Tables.documents(s, d).filter(col("text").isNotNull).select("text")
  private def tokens(s: SparkSession, d: String) =
    text(s, d).select(split(col("text"), "\\s+").as("toks"))
  private def shingles(s: SparkSession, d: String) =
    text(s, d).select(WordShingles.shingles(s, col("text"), 3).as("sh"))
  private def sparse(s: SparkSession, d: String) =
    tokens(s, d).select(sort_array(transform(array_distinct(col("toks")),
      t => struct(t.as("tok"), length(t).cast("long").as("w2")))).as("sv"))
  private def vectors(s: SparkSession, d: String) =
    Tables.embeddings(s, d).select(col("embedding").as("v"))
  private def intVectors(s: SparkSession, d: String) =
    vectors(s, d).select(transform(col("v"),
      x => (x * 1000000).cast("int")).as("e6"))

  private val micros: Seq[(String, Micro)] = Seq(
    "word_shingles" -> Micro(text,
      s => WordShingles.shingles(s, col("text"), 3)),
    "md5_minhash" -> Micro(shingles,
      s => Md5MinHashExpression.md5MinHash(s, col("sh"), 64)),
    "md5_simhash" -> Micro(tokens,
      s => Md5SimHashExpression.md5SimHash(s, col("toks"))),
    "sorted_pair_dot" -> Micro(sparse,
      s => SortedPairDot.dot(s, col("sv"), col("sv"))),
    "cosine" -> Micro(vectors,
      s => VectorExpressions.cosine(s, col("v"), col("v"))),
    "dot" -> Micro(vectors,
      s => VectorExpressions.dot(s, col("v"), col("v"))),
    "idot" -> Micro(intVectors,
      s => VectorExpressions.idot(s, col("e6"), col("e6"))),
    "norm" -> Micro(vectors, s => VectorExpressions.norm(s, col("v"))))

  /** ns per input row of each expression: the median over `reps` timed
    * writes, minus the median of the same write without the expression.
    */
  def nsPerRow(spark: SparkSession, fixture: String, reps: Int)
      : Map[String, Double] = micros.map { case (n, m) =>
    // the fixture columns are small; repeat them so the expression's
    // cost, not the job's fixed cost, dominates the difference
    val base = m.input(spark, fixture)
    val copies = math.max(1L, 20000L / math.max(1L, base.count()))
    val in = base.crossJoin(spark.range(copies).toDF("_copy"))
      .drop("_copy").cache()
    val rows = in.count()
    def median(df: DataFrame): Double = {
      df.write.format("noop").mode("overwrite").save()
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      }.sorted
      ts(ts.size / 2)
    }
    val withExpr = median(in.select(m.expr(spark).as("out")))
    val bare = median(in)
    in.unpersist()
    n -> math.max(0.0, withExpr - bare) / math.max(1L, rows)
  }.toMap
}
