package liftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dsl.Yaml
import graft.ops.{Caches, Dedup, Similarity}
import graft.runtime.{BlockLog, Manager}
import graft.streaming.Streaming
import graft.table.ManagedTable

/** Input sizes and run shape: inputs of `chunk` cycles are generated and
  * staged at once, `setups` fresh set-ups per run (the median is reported),
  * `warmup` untimed cycles per set-up (no lookups), at least `minCycles`
  * timed cycles and at most `maxLookups` point reads after each timed
  * cycle. `tiny` is the smoke-test size. */
final case class Scale(filesPerCycle: Int, rowsPerFile: Int, seedOrders: Int,
                       batchRows: Int, waveDocs: Int, sampleDocs: Int,
                       sampleVecs: Int, chunk: Int, setups: Int, warmup: Int,
                       minCycles: Int, maxLookups: Int)

object Scale {
  val standard = Scale(filesPerCycle = 3, rowsPerFile = 800, seedOrders = 24000,
    batchRows = 240, waveDocs = 60, sampleDocs = 120, sampleVecs = 120, chunk = 8,
    setups = 3, warmup = 2, minCycles = 4, maxLookups = 4)
  val tiny = Scale(filesPerCycle = 2, rowsPerFile = 40, seedOrders = 600,
    batchRows = 20, waveDocs = 12, sampleDocs = 24, sampleVecs = 24, chunk = 8,
    setups = 1, warmup = 1, minCycles = 4, maxLookups = 1)
}

/** A point read made after a cycle, with the check of its result. */
final case class Lookup(condition: String, verify: Array[Row] => Option[String])

/** Everything a workload instance needs; `dir` is its private work dir. */
final class Ctx(val spark: SparkSession, val seed: Long, val dir: String,
                val scale: Scale, val tracer: Tracer) {
  def path(rel: String): String = s"$dir/$rel"

  /** Number of lift blocks run per lift, for `runtime.blocks_per_lift`. */
  val liftBlocks: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer[Int]()

  /** `Lift.lift` on YAML text, called step by step through the same public
    * API so each layer's share is a span of its own. */
  def lift(yaml: String, params: Map[String, Any]): BlockLog = {
    val bound = tracer.span("Yaml.parseAndBind", "dsl")(Yaml.parseAndBind(yaml, params))
    val manager = new Manager(spark)
    bound.get("FileRegistry").foreach { fr =>
      tracer.span("Manager.initFileRegistry", "registry")(
        manager.initFileRegistry(fr.asInstanceOf[ListMap[String, Any]]))
    }
    val job = bound("LiftJob").asInstanceOf[ListMap[String, Any]]
    liftBlocks += job.size
    tracer.span("Manager.executeLiftJob", "runtime")(manager.executeLiftJob(job))
  }

  /** Stage generated rows as parquet, one file per value of the trailing
    * `__file` column, and return file id -> local file. */
  def stage(rows: Seq[Row], schema: StructType, rel: String): Map[Long, File] = {
    val out = path(rel)
    spark.createDataFrame(rows.asJava, schema.add("__file", LongType))
      .coalesce(1).write.partitionBy("__file").parquet(out)
    new File(out).listFiles().filter(_.getName.startsWith("__file=")).map { d =>
      d.getName.stripPrefix("__file=").toLong ->
        d.listFiles().filter(_.getName.endsWith(".parquet")).head
    }.toMap
  }

  /** Move a staged file into place, as an upstream writer landing it. */
  def land(src: File, dst: String): File = {
    val target = new File(dst)
    target.getParentFile.mkdirs()
    Files.move(src.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
    target
  }
}

trait Workload {
  def ctx: Ctx
  /** Point reads made after each cycle. */
  def lookupsPerCycle: Int = 3
  /** Period of the workload's maintenance cycles (compaction); runs
    * measure whole periods so those cycles weigh the same in every run. */
  def cadence: Int = 1
  /** Generate inputs and the seed table (untimed set-up). */
  def prepare(): Unit
  /** Land cycle `i`'s inputs (untimed glue between cycles). */
  def beforeCycle(i: Int): Unit
  /** One cycle: the timed call into the engine. Returns committed rows. */
  def cycle(i: Int): Long
  /** Untimed clean-up after a cycle. */
  def afterCycle(i: Int): Unit = ()
  /** Point reads made after cycle `i` through `lookupTable.readWhere`. */
  def lookups(i: Int): Seq[Lookup]
  def lookupTable: ManagedTable
  /** Named end-of-run correctness checks: None passes, Some(why) fails. */
  def checks(): Seq[(String, () => Option[String])]
  /** Table and registry paths the storage census reads. */
  def tablePaths: Seq[String]
  /** Bytes of generated input landed so far. */
  def inputBytes: Long
  /** Registry rows at the end of the run (0 without a registry). */
  def registryRows: Long = 0L
}

object Workloads {
  val names: Seq[String] = Seq("ingest_registry", "upsert_lookup", "stream_neardup", "curate_batch")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ingest_registry" => new IngestRegistry(ctx)
    case "upsert_lookup"   => new UpsertLookup(ctx)
    case "stream_neardup"  => new StreamNearDup(ctx)
    case "curate_batch"    => new CurateBatch(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; known: ${names.mkString(", ")}")
  }

  /** Order-independent (count, hash sum) of a frame's rows. */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(count(lit(1)),
      sum(xxhash64(df.columns.sorted.map(col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  def fail(cond: Boolean, why: => String): Option[String] = if (cond) None else Some(why)
}

import Workloads.fail

/** Registry-driven incremental ingest: each cycle lands a few lineitem
  * parquet files and runs one YAML lift (full-scan registry -> parquet
  * load -> transform -> append), compacting on a fixed cadence. */
final class IngestRegistry(val ctx: Ctx) extends Workload {
  private val s = ctx.scale
  private val table = ctx.path("table")
  private val landed = mutable.ArrayBuffer[(Int, Long, File)]() // cycle, file id, file
  private val staged = mutable.Map[Long, File]()
  override def cadence: Int = 4

  private def yaml(compact: Boolean): String =
    s"""FileRegistry:
       |  Landed:
       |    Type: fileregistry::s3_full_scan
       |    Properties:
       |      BasePath: ${ctx.path("registry")}
       |      UpdateAfter: Sink
       |LiftJob:
       |  Raw:
       |    Type: load::batch_parquet
       |    Properties:
       |      Path: ${ctx.path("landing")}
       |      FileRegistry: Landed
       |  Shaped:
       |    Type: transform::generic
       |    Input: Raw
       |    Properties:
       |      Functions:
       |        - add_column.date.year:
       |            from_column: l_shipdate
       |            to_column: ship_year
       |  Sink:
       |    Type: write::batch_delta
       |    Input: Shaped
       |    Properties:
       |      Path: $table
       |      Mode: append
       |""".stripMargin + (if (compact)
      """      Compact:
        |        TargetMB: 4
        |""".stripMargin else "")

  def prepare(): Unit = new File(ctx.path("landing")).mkdirs()

  def beforeCycle(i: Int): Unit = {
    val ids = (0 until s.filesPerCycle).map(f => i.toLong * s.filesPerCycle + f)
    if (!staged.contains(ids.head)) {
      val chunk = i / s.chunk
      val cycles = chunk * s.chunk until (chunk + 1) * s.chunk
      val rows = cycles.flatMap(c => (0 until s.filesPerCycle).flatMap { f =>
        val id = c.toLong * s.filesPerCycle + f
        Gen.lineitemFile(ctx.seed, id, s.rowsPerFile).map(r => Row.fromSeq(r.toSeq :+ id))
      })
      staged ++= ctx.stage(rows, Gen.lineitemSchema, s"stage/chunk-$chunk")
    }
    ids.foreach { id =>
      val f = ctx.land(staged.remove(id).get, ctx.path(f"landing/batch-$i%05d/file-$id.parquet"))
      landed += ((i, id, f))
    }
  }

  def cycle(i: Int): Long = {
    ctx.lift(yaml(compact = (i + 1) % cadence == 0), Map.empty)
    s.filesPerCycle.toLong * s.rowsPerFile
  }

  def lookupTable: ManagedTable = ManagedTable(ctx.spark, table)

  def lookups(i: Int): Seq[Lookup] = {
    val r = Gen.rng(ctx.seed, "ingest-lookup", i)
    Seq.fill(lookupsPerCycle) {
      val id = i.toLong * s.filesPerCycle + r.nextInt(s.filesPerCycle)
      val line = r.nextInt(s.rowsPerFile)
      val key = id * 100000L + line / 4
      val expected = Gen.lineitemFile(ctx.seed, id, s.rowsPerFile)
        .filter(_.getLong(0) == key).map(_.getDouble(5)).sorted
      Lookup(s"l_orderkey = $key", rows =>
        fail(rows.map(_.getAs[Double]("l_extendedprice")).sorted.toSeq == expected,
          s"l_orderkey=$key read ${rows.length} rows, expected ${expected.length}"))
    }
  }

  def checks(): Seq[(String, () => Option[String])] = Seq(
    "table_equals_landed_rows" -> (() => {
      val cols = Gen.lineitemSchema.fieldNames.map(col).toSeq
      val got = Workloads.fingerprint(lookupTable.read().select(cols: _*))
      val want = Workloads.fingerprint(ctx.spark.read.schema(Gen.lineitemSchema)
        .parquet(landed.map(_._3.toURI.toString).toSeq: _*).select(cols: _*))
      fail(got == want, s"table (count, hash) $got != landed $want")
    }),
    "registry_lists_each_file_once_lifted" -> (() => {
      val reg = ManagedTable(ctx.spark, ctx.path("registry")).read()
        .select(col("file_path"), col("date_lifted")).collect()
      val paths = reg.map(r => new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath)
      val want = landed.map(_._3.getAbsolutePath).toSet
      val unlifted = reg.count(_.isNullAt(1))
      fail(paths.length == paths.toSet.size && paths.toSet == want && unlifted == 0,
        s"registry has ${paths.length} rows (${paths.toSet.size} distinct, " +
          s"$unlifted unlifted) for ${want.size} landed files")
    }),
    "lift_without_new_files_commits_nothing" -> (() => {
      val before = lookupTable.currentVersion
      ctx.lift(yaml(compact = false), Map.empty)
      val after = lookupTable.currentVersion
      fail(before == after, s"table moved from version $before to $after")
    }))

  def tablePaths: Seq[String] = Seq(table, ctx.path("registry"))
  def inputBytes: Long = landed.map(_._3.length).sum
  override def registryRows: Long =
    ManagedTable(ctx.spark, ctx.path("registry")).read().count()
}

/** Keyed upserts into a month-partitioned orders table, each followed by
  * point lookups that must match an in-benchmark key -> row model. */
final class UpsertLookup(val ctx: Ctx) extends Workload {
  private val s = ctx.scale
  private val table = ctx.path("table")
  private val model = mutable.LongMap[Row]()
  private val keysByMonth = Array.fill(Gen.Months)(mutable.ArrayBuffer[Long]())
  private var nextKey = 1L
  private val batches = mutable.Map[Int, Seq[Row]]()
  private val staged = mutable.Map[Long, File]()
  private var landedBytes = 0L
  private var lastBatch: Seq[Row] = Nil
  override def lookupsPerCycle: Int = 4

  private val yaml =
    s"""LiftJob:
       |  Batch:
       |    Type: load::batch_parquet
       |    Properties:
       |      Path: $${batch}
       |  Sink:
       |    Type: write::batch_delta
       |    Input: Batch
       |    Properties:
       |      Path: $table
       |      Mode: upsert
       |      Upsert:
       |        MergeStatement: source.o_orderkey == updates.o_orderkey
       |      PartitionBy:
       |        Columns: [o_month]
       |      Stats:
       |        Columns: [o_orderkey]
       |        Mode: footers
       |""".stripMargin

  private def newKey(m: Int): Long = {
    val k = nextKey; nextKey += 1; keysByMonth(m) += k; k
  }

  def prepare(): Unit = {
    val r = Gen.rng(ctx.seed, "orders-seed", 0)
    val rows = (0 until s.seedOrders).map { i =>
      val m = i % Gen.Months
      val row = Gen.order(r, newKey(m), m)
      model(row.getLong(0)) = row
      Row.fromSeq(row.toSeq :+ 0L)
    }
    val f = ctx.land(ctx.stage(rows, Gen.ordersSchema, "stage/seed")(0L),
      ctx.path("landing/seed.parquet"))
    landedBytes += f.length
    ManagedTable(ctx.spark, table).write(
      ctx.spark.read.parquet(f.toURI.toString), Seq("o_month"))
  }

  /** Batch `i`: mostly updates of existing keys skewed to recent months,
    * some new keys; keys are distinct within a batch. Generation walks a
    * planning key index, so batches can be staged ahead of the cycles. */
  private def plan(i: Int): Seq[Row] = {
    val r = Gen.rng(ctx.seed, "orders-batch", i)
    val picked = mutable.LinkedHashMap[Long, Row]()
    while (picked.size < s.batchRows) {
      val m = Gen.recentMonth(r)
      val ks = keysByMonth(m)
      val key = if (r.nextInt(10) == 0 || ks.isEmpty) newKey(m) else ks(r.nextInt(ks.length))
      if (!picked.contains(key)) picked(key) = Gen.order(r, key, m)
    }
    picked.values.toSeq
  }

  def beforeCycle(i: Int): Unit = {
    if (!staged.contains(i.toLong)) {
      val chunk = i / s.chunk
      val rows = (chunk * s.chunk until (chunk + 1) * s.chunk).flatMap { c =>
        batches(c) = plan(c)
        batches(c).map(r => Row.fromSeq(r.toSeq :+ c.toLong))
      }
      staged ++= ctx.stage(rows, Gen.ordersSchema, s"stage/chunk-$chunk")
    }
    landedBytes += ctx.land(staged.remove(i.toLong).get,
      ctx.path(f"landing/batch-$i%05d/part-0.parquet")).length
  }

  def cycle(i: Int): Long = {
    ctx.lift(yaml, Map("batch" -> ctx.path(f"landing/batch-$i%05d")))
    s.batchRows.toLong
  }

  override def afterCycle(i: Int): Unit = {
    lastBatch = batches.remove(i).get
    lastBatch.foreach(r => model(r.getLong(0)) = r)
  }

  def lookupTable: ManagedTable = ManagedTable(ctx.spark, table)

  def lookups(i: Int): Seq[Lookup] = {
    val r = Gen.rng(ctx.seed, "orders-lookup", i)
    // half the keys were just written; the rest are drawn from every key
    // planned so far, so a key of a later batch reads back empty
    val keys = Seq.fill(lookupsPerCycle / 2)(lastBatch(r.nextInt(lastBatch.length)).getLong(0)) ++
      Seq.fill(lookupsPerCycle - lookupsPerCycle / 2)(1L + r.nextLong(nextKey - 1))
    keys.map { k =>
      val want = model.get(k)
      Lookup(s"o_orderkey = $k", rows => {
        val got = rows.map(row => Row.fromSeq(Gen.ordersSchema.fieldNames.map(row.getAs[Any])))
        fail(got.toSeq == want.toSeq, s"o_orderkey=$k read ${got.mkString(";")}, model ${want.mkString}")
      })
    }
  }

  def checks(): Seq[(String, () => Option[String])] = Seq(
    "table_matches_model" -> (() => {
      val spark = ctx.spark
      val cols = Gen.ordersSchema.fieldNames.map(col).toSeq
      val want = spark.createDataFrame(model.values.toSeq.asJava, Gen.ordersSchema)
      val got = lookupTable.read().select(cols: _*)
      val extra = got.exceptAll(want).count()
      val missing = want.exceptAll(got).count()
      fail(extra == 0 && missing == 0,
        s"table has $extra rows not in the model and lacks $missing model rows")
    }))

  def tablePaths: Seq[String] = Seq(table)
  def inputBytes: Long = landedBytes
}

/** Streaming near-dup ingestion: each cycle lands a wave of JSON docs and
  * drains `Streaming.streamNearDupIndex` on one checkpoint. */
final class StreamNearDup(val ctx: Ctx) extends Workload {
  private val s = ctx.scale
  private val texts = mutable.ArrayBuffer[String]()
  private var landedBytes = 0L
  private var lastIds: Seq[Long] = Nil
  override def cadence: Int = 4

  private def corpus(root: String) = ManagedTable(ctx.spark, s"$root/corpus")
  private def lsh(root: String) = ManagedTable(ctx.spark, s"$root/lsh")

  private def drain(root: String): Unit = Streaming.streamNearDupIndex(
    ctx.spark.readStream.schema(Gen.documentsSchema).json(ctx.path("in")),
    corpus(root), lsh(root), "doc_id", "text", compactEvery = cadence)

  def prepare(): Unit = new File(ctx.path("in")).mkdirs()

  def beforeCycle(i: Int): Unit = {
    val docs = Gen.documents(Gen.rng(ctx.seed, "wave", i), texts.length.toLong,
      s.waveDocs, texts.takeRight(400).toIndexedSeq)
    texts ++= docs.map(_._2)
    lastIds = docs.map(_._1)
    // written under a hidden name, then renamed: the file source never
    // sees a half-written wave
    val tmp = new File(ctx.path(f"in/.wave-$i%05d.json"))
    Files.write(tmp.toPath, docs.map { case (id, t) =>
      s"""{"doc_id":$id,"text":"$t"}""" }.mkString("", "\n", "\n").getBytes("UTF-8"))
    landedBytes += ctx.land(tmp, ctx.path(f"in/wave-$i%05d.json")).length
  }

  def cycle(i: Int): Long = {
    ctx.tracer.span("Streaming.streamNearDupIndex", "streaming")(drain(ctx.dir))
    s.waveDocs.toLong
  }

  def lookupTable: ManagedTable = corpus(ctx.dir)

  def lookups(i: Int): Seq[Lookup] = {
    val r = Gen.rng(ctx.seed, "wave-lookup", i)
    Seq.fill(lookupsPerCycle) {
      val id = lastIds(r.nextInt(lastIds.length))
      Lookup(s"doc_id = $id", rows =>
        fail(rows.length == 1 && rows(0).getAs[String]("text") == texts(id.toInt),
          s"doc_id=$id read ${rows.length} rows"))
    }
  }

  def checks(): Seq[(String, () => Option[String])] = Seq(
    "kept_set_equals_one_drain_of_all_waves" -> (() => {
      val fresh = ctx.path("oneshot")
      drain(fresh)
      def kept(t: ManagedTable) =
        t.read().where(col("kept")).select("doc_id").collect().map(_.getLong(0)).toSet
      val (got, want) = (kept(corpus(ctx.dir)), kept(corpus(fresh)))
      val all = corpus(ctx.dir).read().count()
      fail(got == want && all == texts.length,
        s"incremental kept ${got.size}, one drain kept ${want.size}, " +
          s"${(got diff want).size + (want diff got).size} differ; corpus $all of ${texts.length} docs")
    }))

  def tablePaths: Seq[String] = Seq(ctx.path("corpus"), ctx.path("lsh"))
  def inputBytes: Long = landedBytes
}

/** Batch curation: each cycle is one lift over a seeded sample of documents
  * (picked up through a full-scan file registry) and embeddings; custom
  * blocks run the n-gram pair core, clustering and semantic dedup, and two
  * managed-table writes commit the results. */
final class CurateBatch(val ctx: Ctx) extends Workload {
  private val s = ctx.scale
  private val staged = mutable.Map[Long, File]()
  private var landedBytes = 0L
  private var firstCycle = -1
  private val Threshold = 0.7
  private val tr = ctx.tracer

  private val ngramClusters: Map[String, Any] => Any = m => {
    val docs = m("Docs").asInstanceOf[DataFrame]
    val pairs = tr.span("Dedup.ngramJaccardPairs", "ops")(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = Threshold))
    tr.span("Dedup.dedupClusters", "ops")(Dedup.dedupClusters(docs, "doc_id", pairs))
  }

  private val semanticKeep: Map[String, Any] => Any = m => {
    val vecs = m("Vecs").asInstanceOf[DataFrame]
    tr.span("Similarity.semanticDedup", "ops")(
      Similarity.semanticDedup(vecs, "vec_id", "embedding", k = 4, iters = 2, threshold = 0.95))
  }

  private val yaml =
    s"""FileRegistry:
       |  NewDocs:
       |    Type: fileregistry::s3_full_scan
       |    Properties:
       |      BasePath: ${ctx.path("registry")}
       |      UpdateAfter: WriteClusters
       |LiftJob:
       |  Docs:
       |    Type: load::batch_parquet
       |    Properties:
       |      Path: ${ctx.path("landing/docs")}
       |      FileRegistry: NewDocs
       |  Vecs:
       |    Type: load::batch_parquet
       |    Properties:
       |      Path: $${vecs}
       |  Clusters:
       |    Type: custom::function
       |    Input: Docs
       |    Properties:
       |      CustomFunction: $${ngramClusters}
       |  Semantic:
       |    Type: custom::function
       |    Input: Vecs
       |    Properties:
       |      CustomFunction: $${semanticKeep}
       |  WriteClusters:
       |    Type: write::batch_delta
       |    Input: Clusters
       |    Properties:
       |      Path: ${ctx.path("clusters")}
       |      Mode: append
       |  WriteSemantic:
       |    Type: write::batch_delta
       |    Input: Semantic
       |    Properties:
       |      Path: ${ctx.path("semantic")}
       |      Mode: append
       |""".stripMargin

  private def docId(i: Int, j: Int): Long = i.toLong * 100000L + j
  private def docsOf(i: Int) = Gen.documents(Gen.rng(ctx.seed, "sample-docs", i),
    docId(i, 0), s.sampleDocs, Vector.empty)

  def prepare(): Unit = ()

  def beforeCycle(i: Int): Unit = {
    // file ids: 2i = docs of cycle i, 2i+1 = embeddings of cycle i
    if (!staged.contains(2L * i)) {
      val chunk = i / s.chunk
      val cycles = chunk * s.chunk until (chunk + 1) * s.chunk
      val docs = cycles.flatMap(c => docsOf(c).map { case (id, t) => Row(id, t, 2L * c) })
      val vecs = cycles.flatMap(c => Gen.embeddings(ctx.seed,
        Gen.rng(ctx.seed, "sample-vecs", c), docId(c, 0), s.sampleVecs)
        .map(r => Row.fromSeq(r.toSeq :+ (2L * c + 1))))
      staged ++= ctx.stage(docs, Gen.documentsSchema, s"stage/docs-$chunk")
      staged ++= ctx.stage(vecs, Gen.embeddingsSchema, s"stage/vecs-$chunk")
    }
    Seq(2L * i -> "docs", 2L * i + 1 -> "vecs").foreach { case (id, kind) =>
      landedBytes += ctx.land(staged.remove(id).get,
        ctx.path(f"landing/$kind/cycle-$i%05d/part-0.parquet")).length
    }
  }

  def cycle(i: Int): Long = {
    if (firstCycle < 0) firstCycle = i
    ctx.lift(yaml, Map(
      "vecs" -> ctx.path(f"landing/vecs/cycle-$i%05d"),
      "ngramClusters" -> ngramClusters, "semanticKeep" -> semanticKeep))
    (s.sampleDocs + s.sampleVecs).toLong
  }

  override def afterCycle(i: Int): Unit = Caches.release(ctx.spark)

  def lookupTable: ManagedTable = ManagedTable(ctx.spark, ctx.path("clusters"))

  def lookups(i: Int): Seq[Lookup] = {
    val r = Gen.rng(ctx.seed, "curate-lookup", i)
    Seq.fill(lookupsPerCycle) {
      val id = docId(i, r.nextInt(s.sampleDocs))
      Lookup(s"doc_id = $id", rows =>
        fail(rows.length == 1 && rows(0).getAs[Long]("cluster_id") <= id,
          s"doc_id=$id read ${rows.length} rows"))
    }
  }

  def checks(): Seq[(String, () => Option[String])] = Seq(
    "ngram_pairs_equal_brute_force_jaccard" -> (() => {
      val spark = ctx.spark
      val docs = spark.read.parquet(ctx.path(f"landing/docs/cycle-$firstCycle%05d"))
      val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = Threshold)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      Caches.release(spark)
      val sh = docs.select(col("doc_id").as("id"), Dedup.shingles(col("text"), 3).as("sh"))
      val want = sh.as("a").crossJoin(sh.as("b"))
        .where(col("a.id") < col("b.id") && size(col("a.sh")) > 0 && size(col("b.sh")) > 0)
        .where(Dedup.jaccard(col("a.sh"), col("b.sh")) >= Threshold)
        .select(col("a.id"), col("b.id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      fail(got == want && want.nonEmpty,
        s"cycle $firstCycle: ${got.size} pairs vs ${want.size} brute-force pairs, " +
          s"${(got diff want).size + (want diff got).size} differ")
    }),
    "clusters_hold_every_doc_once" -> (() => {
      val t = lookupTable.read()
      val (n, distinct) = (t.count(), t.select("doc_id").distinct().count())
      // the docs come in through the registry: a file loaded twice or
      // never shows here as a duplicate or a missing doc
      val cycles = new File(ctx.path("landing/docs")).listFiles().length
      fail(n == distinct && n == cycles.toLong * s.sampleDocs,
        s"clusters table has $n rows, $distinct distinct, for $cycles cycles")
    }))

  def tablePaths: Seq[String] =
    Seq(ctx.path("clusters"), ctx.path("semantic"), ctx.path("registry"))
  override def registryRows: Long =
    ManagedTable(ctx.spark, ctx.path("registry")).read().count()
  def inputBytes: Long = landedBytes
}
