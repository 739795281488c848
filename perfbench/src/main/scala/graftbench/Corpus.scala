package graftbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. Every generated value is a pure function of
  * (seed, tag, row id) through `xxhash64`, so a table is identical for
  * the same seed no matter how Spark partitions the generating job.
  */
object Corpus {

  private val Unit30 = 1L << 30

  /** Uniform integer in [0, m) for (seed, tag, cols). */
  def hashMod(seed: Long, tag: String, m: Long, cols: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(tag) +: cols): _*), lit(m))

  /** Uniform double in (0, 1). */
  private def unit(seed: Long, tag: String, cols: Column*): Column =
    (hashMod(seed, tag, Unit30, cols: _*) + 1) / (Unit30 + 1).toDouble

  // ---------------------------------------------------------------- reindex

  /** The reindex mutators: one drop that removes the `category = 3` rows
    * (about 1/7) and one enrichment column.
    */
  val DropPredicate = "category = 3"
  val EnrichColumn = "body_kb"
  val EnrichExpr = "body_bytes / 1024.0"
  val SizeCol = "body_bytes"

  /** Category is `((id * a + b) mod P) mod 7`, so the generator knows the
    * exact number of rows the drop keeps without asking Spark.
    */
  private val P = 1000003L

  final case class IndexTable(name: String, rows: Long, keep: Long, a: Long, b: Long)

  def indexTable(seed: Long, name: String, rows: Long): IndexTable = {
    val r = new java.util.SplittableRandom(seed * 1000003L + name.hashCode)
    val a = 1 + r.nextLong(P - 1)
    val b = r.nextLong(P)
    var dropped = 0L
    var id = 0L
    while (id < rows) { if (((id * a + b) % P) % 7 == 3) dropped += 1; id += 1 }
    IndexTable(name, rows, rows - dropped, a, b)
  }

  /** Documents of one index table: heavy-tailed (log-normal) bodies with
    * median ~150 bytes, capped at 8 KiB; `body_bytes` is the planner's
    * size column.
    */
  def indexFrame(spark: SparkSession, seed: Long, t: IndexTable, partitions: Int): DataFrame = {
    val id = col("id")
    val tag = t.name
    val z = sqrt(lit(-2.0) * ln(unit(seed, tag + "u1", id))) *
      cos(lit(2 * math.Pi) * unit(seed, tag + "u2", id))
    val len = least(greatest(round(exp(lit(math.log(150.0)) + z)), lit(8)), lit(8192)).cast("int")
    val rnd = new java.util.SplittableRandom(seed ^ tag.hashCode.toLong)
    val alphabet = "abcdefghijklmnopqrstuvwxyz      "
    val chunk = (0 until 97).map(_ => alphabet.charAt(rnd.nextInt(alphabet.length))).mkString
    val offset = hashMod(seed, tag + "off", 97, id) + 1
    spark.range(0, t.rows, 1, partitions).select(
      id.as("doc_id"),
      pmod(id * t.a + t.b, lit(P)).mod(7).cast("int").as("category"),
      len.as(SizeCol),
      (lit(1700000000000L) + id * 1000 + hashMod(seed, tag + "ts", 1000, id)).as("ts"),
      concat(lit("tag"), hashMod(seed, tag + "tag", 50, id).cast("string")).as("tag"),
      offset.as("_off")
    ).select(
      col("doc_id"), col("category"),
      expr(s"substring(repeat('$chunk', cast(ceil($SizeCol / 97.0) as int) + 1), cast(_off as int), $SizeCol)")
        .as("body"),
      col(SizeCol), col("ts"), col("tag"))
  }

  /** Per-row hash over all columns in name order, each rendered as a
    * string, so column order and integer widths do not matter (a JSON
    * round trip that widens int to long hashes the same as parquet).
    * Floating values are rendered with six decimals: exact for generated
    * values, and deaf to the last-bit wobble of an aggregation's merge
    * order.
    */
  def rowHash(df: DataFrame): Column = {
    val cols = df.columns.sorted.map { c =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType =>
          coalesce(format_string("%.6f", col(c).cast("double")), lit("\u0000"))
        case _ => coalesce(col(c).cast("string"), lit("\u0000"))
      }
    }
    xxhash64(concat_ws("\u0001", cols.toSeq: _*))
  }

  /** Order-insensitive digest aggregates: row count and the sum of
    * [[rowHash]] (as a decimal, so it cannot overflow).
    */
  def digestAggs(df: DataFrame): Seq[Column] =
    Seq(count(lit(1)).as("n"), sum(rowHash(df).cast("decimal(38,0)")).as("h"))

  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val row = df.select(digestAggs(df): _*).head()
    (row.getLong(0), Option(row.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }
}

object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }

  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytes).sum
    else f.length()
}
