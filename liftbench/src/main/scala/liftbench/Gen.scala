package liftbench

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generators. Every generator is a pure function of
  * (seed, stream name, index), so the same seed yields the same inputs
  * no matter how many cycles a run reaches. Shapes follow the sf0.1
  * `lineitem`, `orders`, `documents` and `embeddings` tables. */
object Gen {

  /** A deterministic random stream for one (seed, purpose, index). */
  def rng(seed: Long, purpose: String, index: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(
      seed * 0x9E3779B97F4A7C15L ^ purpose.hashCode.toLong * 0xC2B2AE3D27D4EB4FL ^ index)

  // ---- lineitem ----------------------------------------------------------

  val lineitemSchema: StructType = StructType.fromDDL(
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP")

  private val Day = 86400000L
  private val Epoch1992 = 694224000000L // 1992-01-01T00:00:00Z

  /** Rows of landed file `file` (globally numbered): order keys are unique
    * per file, so every landed row is distinct. */
  def lineitemFile(seed: Long, file: Long, rows: Int): Seq[Row] = {
    val r = rng(seed, "lineitem", file)
    (0 until rows).map { i =>
      val qty = (1 + r.nextInt(50)).toDouble
      val price = math.round(qty * (900 + r.nextInt(100000)) / 100.0 * 100) / 100.0
      Row(file * 100000L + i / 4, 1L + r.nextInt(20000), 1L + r.nextInt(1000),
        1 + i % 4, qty, price, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        Seq("A", "N", "R")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)),
        new Timestamp(Epoch1992 + r.nextInt(2500) * Day))
    }
  }

  // ---- orders ------------------------------------------------------------

  val ordersSchema: StructType = StructType.fromDDL(
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING, " +
      "o_month STRING")

  val Months = 24
  private val Epoch2023 = 1672531200000L // 2023-01-01T00:00:00Z

  def monthName(m: Int): String = f"${2023 + m / 12}%04d-${m % 12 + 1}%02d"

  /** One order row in month `m`; the mutable fields are drawn afresh, so an
    * update is visible to the lookups. */
  def order(r: java.util.SplittableRandom, key: Long, m: Int): Row =
    Row(key, 1L + r.nextInt(15000), Seq("O", "F", "P")(r.nextInt(3)),
      math.round((1000 + r.nextInt(500000)) * 100.0) / 100.0 / 100.0,
      new Timestamp(Epoch2023 + (m * 30L + r.nextInt(28)) * Day),
      Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(r.nextInt(5)),
      monthName(m))

  /** Month index skewed to recent months: half the mass on the last four. */
  def recentMonth(r: java.util.SplittableRandom): Int =
    math.max(0, Months - 1 - (-math.log(1 - r.nextDouble()) * 5).toInt)

  // ---- documents ---------------------------------------------------------

  private val Vocab: Array[String] = (
    "batch part spark line column order small sort fast value scan a hash " +
      "slow group agg filter query big key window row table stream merge data " +
      "vector join customer the index shard lake file page crawl topic node " +
      "graph cache token model plan stage task").split(" ")

  def freshText(r: java.util.SplittableRandom): String =
    Seq.fill(12 + r.nextInt(60))(Vocab(r.nextInt(Vocab.length))).mkString(" ")

  /** A near-duplicate: one or two single-word substitutions on a text of
    * at least 30 words keeps 3-shingle Jaccard well above 0.7. */
  def nearDup(r: java.util.SplittableRandom, text: String): String = {
    val w = text.split(" ")
    val edits = if (w.length >= 30) 1 + r.nextInt(2) else 1
    (0 until edits).foreach(_ => w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length)))
    w.mkString(" ")
  }

  /** `n` documents with ids from `firstId`: a fixed mix of fresh docs,
    * near-duplicates and exact copies of `prior` texts or of earlier docs
    * of the same batch. */
  def documents(r: java.util.SplittableRandom, firstId: Long, n: Int,
                prior: IndexedSeq[String]): IndexedSeq[(Long, String)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    (0 until n).foreach { i =>
      val pool = prior ++ out.map(_._2)
      val roll = r.nextInt(100)
      val text =
        if (pool.isEmpty || roll < 60) freshText(r)
        else if (roll < 85) nearDup(r, pool(r.nextInt(pool.length)))
        else pool(r.nextInt(pool.length))
      out += ((firstId + i, text))
    }
    out.toIndexedSeq
  }

  val documentsSchema: StructType = StructType.fromDDL("doc_id BIGINT, text STRING")

  // ---- embeddings --------------------------------------------------------

  val Dim = 64

  val embeddingsSchema: StructType =
    StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  /** `n` unit vectors around eight seeded centres, a fifth of them
    * near-copies of an earlier vector of the batch. */
  def embeddings(seed: Long, r: java.util.SplittableRandom, firstId: Long,
                 n: Int): IndexedSeq[Row] = {
    val cr = rng(seed, "centres", 0)
    val centres = Array.fill(8, Dim)(cr.nextDouble() * 2 - 1)
    def unit(v: Array[Double]): Array[Float] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    val out = scala.collection.mutable.ArrayBuffer[Row]()
    (0 until n).foreach { i =>
      if (out.nonEmpty && r.nextInt(5) == 0) {
        val src = out(r.nextInt(out.length))
        val v = src.getSeq[Float](1).map(x => x + (r.nextDouble() - 0.5) * 0.02).toArray
        out += Row(firstId + i, unit(v.map(_.toDouble)).toSeq, src.getInt(2))
      } else {
        val c = r.nextInt(centres.length)
        val v = centres(c).map(x => x + (r.nextDouble() - 0.5) * 1.6)
        out += Row(firstId + i, unit(v).toSeq, c)
      }
    }
    out.toIndexedSeq
  }
}
