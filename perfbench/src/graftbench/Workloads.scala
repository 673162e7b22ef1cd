package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.{Blocks, GraftSession, SparkEntry}
import graft.dedup.Dedup
import graft.operators.{Graph, Ingest}
import graft.streaming.StreamingIngest
import graft.text.Bpe

/** One isolated set-up: a session plus its own warehouse, stream
  * checkpoint and input directories under `runDir`. */
final class Ctx(val spark: SparkSession, val runDir: File, val seed: Long, val benchDir: File) {
  val warehouse = new File(runDir, "warehouse")
  val inputs = new File(runDir, "inputs")
  val checkpoints = new File(runDir, "checkpoints")
}

/** One closed-loop op's deferred output check, run after the op's clock
  * has stopped. */
final case class Op(check: () => Seq[String] = () => Nil)

trait Workload {
  def name: String
  /** Generate this set-up's inputs and create its tables. The first
    * set-up of a JVM (`first`) also runs every code path the ops use
    * once, so that the measured ops run warm; later set-ups run at most
    * one warm-up op. */
  def setup(ctx: Ctx, first: Boolean): Unit
  /** Untimed work before the next op (input generation, cache clearing). */
  def prepare(ctx: Ctx): Unit = ()
  /** Bytes of generated input the next op consumes (the yardstick for
    * write amplification; 0 for read-only workloads). */
  def inputBytes(ctx: Ctx): Long = 0L
  /** One timed op. */
  def op(ctx: Ctx): Op
  /** Ops in the measured pass: the gated figures cover exactly the first
    * `passOps` ops of a run, so they compare the same ops however fast
    * the program gets. */
  def passOps: Int
  /** Traced runs only: per-run calls timed once before the loop, outside
    * any op. */
  def probe(ctx: Ctx): Unit = ()
  /** End-of-run output checks; each string is one failure. */
  def finalCheck(ctx: Ctx): Seq[String] = Nil
  /** Workload-specific figures: (name, value, unit). */
  def details(opTimes: Seq[Double]): Seq[(String, Double, String)] = Nil
  /** Stop whatever the set-up started. */
  def close(): Unit = ()
}

object Workloads {
  val names: Seq[String] = Seq("query_mix", "curation_ingest_graph")

  def apply(name: String): Workload = name match {
    case "query_mix" => new QueryMix
    case "curation_ingest_graph" =>
      new Composite(name, Seq(new CurationStream, new IngestCycles, new GraphRounds))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Every input the workload generates for `seed`, digested. */
  def inputDigest(name: String, seed: Long, benchDir: File): String = name match {
    case "curation_ingest_graph" =>
      val docs = new Gen.DocStream(seed, CurationStream.BatchDocs)
      val s = IngestCycles.source(seed)
      val rows = mutable.ArrayBuffer.empty[Any]
      for (_ <- 0 to 3) {
        rows ++= docs.nextBatch() ++= s.deltaOrders ++= s.deltaEvents
        s.advance()
      }
      Gen.digest(rows.iterator ++ docs.kinds.iterator ++ GraphRounds.edges(seed).iterator ++
        GraphRounds.pairs(seed).iterator ++ GraphRounds.docs(seed).iterator)
    case "query_mix" =>
      Gen.digest(Gen.fixture(QueryMix.FixtureSeed, QueryMix.Scale).iterator.flatMap(_.rows) ++
        QueryMix.order(QueryMix.pass(QueryMix.frozen(benchDir)).map(_.name), seed).iterator)
  }

  // ---------------------------------------------------------------------
  // Shared helpers.
  // ---------------------------------------------------------------------
  def writeParquet(spark: SparkSession, rows: Seq[Row], schema: StructType, path: File): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path.getPath)

  /** Total size of the regular files under `dir`. */
  def treeBytes(dir: File): Long = files(dir).values.sum

  /** path -> size of every regular file under `dir`. */
  def files(dir: File): Map[String, Long] =
    if (!dir.exists()) Map.empty
    else {
      val s = Files.walk(dir.toPath)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  def p50(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** (row count, order-insensitive checksum) in ONE aggregate that reads
    * every output column, so no column can be pruned from the plan. */
  def checksum(df: DataFrame): (Long, String) = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = renamed.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0)))).head()
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
  }
}

import Workloads._

// -------------------------------------------------------------------------
// The ingest part of curation_ingest_graph: Ingest.incrementalMerge +
// Ingest.incrementalAppend, one cycle per op, into a warehouse whose
// history grows every cycle.
// -------------------------------------------------------------------------
object IngestCycles {
  val InitialOrders = 5000
  val NewOrders = 500
  val BumpShare = 0.02
  val Deletes = 20
  val InitialEvents = 5000
  val NewEvents = 500
  def source(seed: Long) = new Gen.IngestSource(seed, InitialOrders, InitialEvents,
    NewOrders, BumpShare, Deletes, NewEvents)
}

final class IngestCycles extends Workload {
  import IngestCycles._
  val name = "ingest"
  private var src: Gen.IngestSource = _
  private val mergeS = mutable.ArrayBuffer.empty[Double]
  private val appendS = mutable.ArrayBuffer.empty[Double]
  private var deltaRows = 0L

  private def dir(ctx: Ctx, what: String) = new File(ctx.inputs, f"c${src.cycle}%04d_$what")
  private def tag: String =
    Ingest.tagValue(java.time.Instant.parse("2024-03-01T00:00:00Z").plusSeconds(3600L * src.cycle))

  /** Write this cycle's source snapshots, and its delta alone (the
    * yardstick for write amplification). */
  private def writeCycle(ctx: Ctx): Unit = {
    writeParquet(ctx.spark, src.orders.map(_.row).toSeq, Gen.OrderSchema, dir(ctx, "orders"))
    writeParquet(ctx.spark, src.events.map(_.row).toSeq, Gen.EventSchema, dir(ctx, "events"))
    writeParquet(ctx.spark, src.deltaOrders.map(_.row), Gen.OrderSchema, dir(ctx, "delta_orders"))
    writeParquet(ctx.spark, src.deltaEvents.map(_.row), Gen.EventSchema, dir(ctx, "delta_events"))
  }

  private def cycle(ctx: Ctx): Seq[String] = {
    val spark = ctx.spark
    val expOrders = src.deltaOrders.size.toLong
    val expEvents = src.deltaEvents.size.toLong
    val t0 = System.nanoTime()
    val m = Trace.span("operators.ingest.merge") {
      Ingest.incrementalMerge(spark, spark.read.parquet(dir(ctx, "orders").getPath),
        "default", "orders", keyColumns = Seq("id"), lastModifiedColumn = "last_modified",
        incrementalColumn = "id", tag = tag, deletedColumn = Some("deleted"))
    }
    val t1 = System.nanoTime()
    val a = Trace.span("operators.ingest.append") {
      Ingest.incrementalAppend(spark, spark.read.parquet(dir(ctx, "events").getPath),
        "default", "events", incrementalColumn = "id", tag = tag, outputPartitions = Seq("date"))
    }
    val t2 = System.nanoTime()
    mergeS += (t1 - t0) / 1e9
    appendS += (t2 - t1) / 1e9
    val live = src.expectedDestination.size.toLong
    Seq(
      if (m.ingestedRows != expOrders) Some(s"merge ingested ${m.ingestedRows}, expected $expOrders") else None,
      if (m.destinationRows != live) Some(s"merge destination ${m.destinationRows}, expected $live") else None,
      if (a.ingestedRows != expEvents) Some(s"append ingested ${a.ingestedRows}, expected $expEvents") else None,
      if (a.destinationRows != src.events.size) Some(s"append destination ${a.destinationRows}, expected ${src.events.size}") else None
    ).flatten
  }

  def setup(ctx: Ctx, first: Boolean): Unit = {
    src = source(ctx.seed)
    writeCycle(ctx)
    val errs = cycle(ctx) ++ // the initial load creates every table
      (if (first) { src.advance(); writeCycle(ctx); cycle(ctx) } else Nil) // and an increment
    if (errs.nonEmpty) throw new IllegalStateException(errs.mkString("; "))
    mergeS.clear(); appendS.clear()
    deltaRows = 0L
  }

  val passOps = 1

  override def prepare(ctx: Ctx): Unit = {
    src.advance()
    writeCycle(ctx)
  }

  override def inputBytes(ctx: Ctx): Long =
    treeBytes(dir(ctx, "delta_orders")) + treeBytes(dir(ctx, "delta_events"))

  def op(ctx: Ctx): Op = {
    val errs = cycle(ctx)
    val rows = src.deltaOrders.size + src.deltaEvents.size
    deltaRows += rows
    Op(() => errs)
  }

  override def finalCheck(ctx: Ctx): Seq[String] = {
    val spark = ctx.spark
    def canon(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.mkString("|"))
    val orderCols = Gen.OrderSchema.fieldNames.map(col).toSeq
    val eventCols = Gen.EventSchema.fieldNames.map(col).toSeq
    Checks.sameRows("orders destination",
      canon(spark.table("default.orders").select(orderCols: _*)),
      src.expectedDestination.map(_.row.mkString("|"))) ++
    Checks.sameRows("events append table",
      canon(spark.table("default.events").select(eventCols: _*)),
      src.events.map(_.row.mkString("|")).toSeq)
  }

  override def details(opTimes: Seq[Double]): Seq[(String, Double, String)] = Seq(
    ("merge_p50_s", p50(mergeS.toSeq), "s"),
    ("append_p50_s", p50(appendS.toSeq), "s"),
    ("ingest_rows_per_s", deltaRows / (mergeS.sum + appendS.sum), "rows/s"))
}

// -------------------------------------------------------------------------
// The curation part of curation_ingest_graph: StreamingIngest.
// toCurationSink on a file-source stream, one generated parquet file per
// micro-batch; the stream stays up for the whole run.
// -------------------------------------------------------------------------
object CurationStream {
  /** Micro-batches per pass. */
  val Pass = 1
  val BatchDocs = 100
  /** Between the fragments' quality scores (at most 4 words, no
    * stopwords: <= 0.02) and every fixture document's (8 words or more:
    * >= 0.04). */
  val MinQuality = 0.03

  /** The sink must admit every novel doc, reject every exact duplicate
    * and low-quality doc, reject at least half of the near-duplicates,
    * and hold the same ids in all three tables. Near-duplicates are only
    * probably caught: 13 of 16 MinHash values must agree, which a pair of
    * Jaccard 0.9 does about nine times in ten. */
  def check(kinds: collection.Map[Long, Gen.Kind.Value], docs: Seq[Long], fps: Seq[Long],
      sigs: Seq[Long]): Seq[String] = {
    val nearAdmitted = docs.filter(id => kinds.get(id).contains(Gen.Kind.Near)).toSet
    val nearTotal = kinds.values.count(_ == Gen.Kind.Near)
    val expected = kinds.iterator.collect { case (id, Gen.Kind.Novel) => id }.toSet ++ nearAdmitted
    Checks.sameIds("docs", docs, expected) ++
      Checks.sameIds("docs_fps", fps, expected) ++
      Checks.sameIds("docs_minhash_sigs", sigs, expected) ++
      (if (2 * nearAdmitted.size > nearTotal)
        Seq(s"admitted ${nearAdmitted.size} of $nearTotal near-duplicates") else Nil)
  }
}

final class CurationStream extends Workload {
  import CurationStream._
  val name = "curation"
  private var docs: Gen.DocStream = _
  private var query: StreamingQuery = _
  private var batch = 0
  private var nearAdmitted = 0
  private var staged: File = _
  private val batchS = mutable.ArrayBuffer.empty[Double]
  private def streamDir(ctx: Ctx) = new File(ctx.inputs, "stream")

  private def stage(ctx: Ctx): Unit = {
    val out = new File(ctx.inputs, f"staging/b$batch%05d")
    writeParquet(ctx.spark, docs.nextBatch(), Gen.DocSchema, out)
    staged = out.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
  }

  /** Publish the staged file and wait until the sink has committed it. */
  private def publish(ctx: Ctx): Unit = {
    Files.move(staged.toPath, new File(streamDir(ctx), f"b$batch%05d.parquet").toPath,
      StandardCopyOption.ATOMIC_MOVE)
    batch += 1
    query.processAllAvailable()
    query.exception.foreach(e => throw e)
  }

  def setup(ctx: Ctx, first: Boolean): Unit = {
    docs = new Gen.DocStream(ctx.seed, BatchDocs)
    batch = 0
    streamDir(ctx).mkdirs()
    val in = ctx.spark.readStream.schema(Gen.DocSchema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir(ctx).getPath)
    query = StreamingIngest.toCurationSink(in, "default", "docs", minQuality = MinQuality)
      .option("checkpointLocation", new File(ctx.checkpoints, "curation").getPath)
      .start()
    // the first batch creates the tables; a second runs the incremental
    // path against history
    for (_ <- 0 until (if (first) 2 else 1)) { stage(ctx); publish(ctx) }
    batchS.clear()
  }

  val passOps = Pass

  override def prepare(ctx: Ctx): Unit = stage(ctx)

  override def inputBytes(ctx: Ctx): Long = staged.length()

  def op(ctx: Ctx): Op = {
    val t0 = System.nanoTime()
    Trace.span("streaming.batch") { publish(ctx) }
    batchS += (System.nanoTime() - t0) / 1e9
    Op()
  }

  override def finalCheck(ctx: Ctx): Seq[String] = {
    def ids(t: String) = ctx.spark.table(t).select(col("doc_id")).collect().toSeq.map(_.getLong(0))
    val admitted = ids("default.docs")
    nearAdmitted = admitted.count(id => docs.kinds.get(id).contains(Gen.Kind.Near))
    check(docs.kinds, admitted, ids("default.docs_fps"), ids("default.docs_minhash_sigs"))
  }

  override def details(opTimes: Seq[Double]): Seq[(String, Double, String)] = Seq(
    ("batch_p50_s", p50(batchS.toSeq), "s"),
    ("docs_per_s", batchS.size * BatchDocs / batchS.sum, "docs/s"),
    ("near_dups_admitted", nearAdmitted.toDouble, "count"),
    ("near_dups", docs.ids(Gen.Kind.Near).size.toDouble, "count"))

  override def close(): Unit = if (query != null) { query.stop(); query = null }
}

// -------------------------------------------------------------------------
// query_mix: sub-second registry queries via SparkEntry.queries, each
// forced through one checksum aggregate, cache cleared before each.
// -------------------------------------------------------------------------
object QueryMix {
  /** The fixture is fixed (the stored checksums are for it). */
  val FixtureSeed = 42L
  val Scale = 0.02
  /** Queries per pass: a fixed stride sample of the frozen list, so every
    * run measures the same queries; the seed picks their order. */
  val PassSize = 10

  final case class Entry(name: String, rows: Long, checksum: String)

  def frozen(benchDir: File): IndexedSeq[Entry] = {
    val text = new String(Files.readAllBytes(new File(benchDir, "query_mix.json").toPath), "UTF-8")
    val re = """\{"name":\s*"([^"]+)",\s*"rows":\s*(\d+),\s*"checksum":\s*"(-?\d+)"\}""".r
    re.findAllMatchIn(text).map(m => Entry(m.group(1), m.group(2).toLong, m.group(3))).toIndexedSeq
  }

  def pass(list: IndexedSeq[Entry]): IndexedSeq[Entry] = {
    val byName = list.sortBy(_.name)
    val n = math.min(PassSize, byName.size)
    (0 until n).map(i => byName(i * byName.size / n))
  }

  def order(names: Seq[String], seed: Long): IndexedSeq[String] = Gen.shuffled(Gen.rng(seed, 51), names)

  def writeFixture(spark: SparkSession, dir: File): Unit =
    Gen.fixture(FixtureSeed, Scale).foreach(t =>
      writeParquet(spark, t.rows, t.schema, new File(dir, s"${t.name}.parquet")))
}

final class QueryMix extends Workload {
  import QueryMix._
  val name = "query_mix"
  private var entries: Map[String, Entry] = Map.empty
  private var seq: IndexedSeq[String] = IndexedSeq.empty
  private var next = 0
  private val queries = SparkEntry.queries
  private def fixtureDir(ctx: Ctx) = new File(ctx.inputs, "fixture")

  def setup(ctx: Ctx, first: Boolean): Unit = {
    val list = pass(frozen(ctx.benchDir))
    entries = list.map(e => e.name -> e).toMap
    seq = order(list.map(_.name), ctx.seed)
    next = 0
    writeFixture(ctx.spark, fixtureDir(ctx))
    def run(q: String) = checksum(queries(q)(ctx.spark, fixtureDir(ctx).getPath))
    ctx.spark.catalog.clearCache()
    // a first set-up runs the pass once, spread over four threads (the
    // measured pass then times warm code generation with a cleared cache,
    // like graft.Bench); later set-ups run its first query
    if (first) {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val threads = 4
      (0 until threads).map(t => Future(seq.indices.filter(_ % threads == t).map(seq).foreach(run)))
        .foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
      ctx.spark.catalog.clearCache()
    } else run(seq.head)
  }

  override def prepare(ctx: Ctx): Unit = ctx.spark.catalog.clearCache()

  def passOps: Int = seq.size

  /** One Tables.load per fixture table (parquet schema reads only) and
    * one GraftSession.tune: probes of what every query's build repeats. */
  override def probe(ctx: Ctx): Unit = {
    Trace.span("sources.load") {
      Gen.fixture(FixtureSeed, 0.0001).map(_.name).foreach(t =>
        graft.sources.Tables.load(ctx.spark, fixtureDir(ctx).getPath, t))
    }
    Trace.span("session.tune") { GraftSession.tune(ctx.spark) }
  }

  def op(ctx: Ctx): Op = {
    val q = seq(next % seq.size)
    next += 1
    val df = Trace.span("queries.build") { queries(q)(ctx.spark, fixtureDir(ctx).getPath) }
    val (rows, sum) = Trace.span("queries.action") { checksum(df) }
    val e = entries(q)
    Op(() => Checks.sameChecksum(q, rows, sum, e.rows, e.checksum))
  }

  override def details(opTimes: Seq[Double]): Seq[(String, Double, String)] = Seq(
    ("query_p50_s", p50(opTimes), "s"),
    ("queries_per_s", opTimes.size / opTimes.sum, "1/s"))
}

// -------------------------------------------------------------------------
// The graph part of curation_ingest_graph: Graph.pageRank / kCore /
// labelPropagation / kTruss with fixed rounds, Dedup.connectedComponents
// and Bpe.train, one operator per op in a fixed rotation.
// -------------------------------------------------------------------------
object GraphRounds {
  val Nodes = 2000
  val Edges = 8000
  val CcNodes = 4000
  val BpeDocs = 300
  val PrIters = 2
  val CoreK = 3; val CoreRounds = 2
  val LpaRounds = 2
  val TrussK = 4; val TrussRounds = 2
  val BpeMerges = 2
  val Scale = Graph.DefaultScale

  def edges(seed: Long): IndexedSeq[(Long, Long)] = Gen.skewedEdges(seed, Nodes, Edges)
  def pairs(seed: Long): IndexedSeq[(Long, Long)] = Gen.clusterPairs(seed, CcNodes)
  def docs(seed: Long): IndexedSeq[Row] = Gen.bpeDocs(seed, BpeDocs)

  val Rotation: IndexedSeq[String] = IndexedSeq("pagerank", "kcore", "lpa", "ktruss", "cc", "bpe")
}

final class GraphRounds extends Workload {
  import GraphRounds._
  val name = "graph"
  private var edgeList: IndexedSeq[(Long, Long)] = _
  private var pairList: IndexedSeq[(Long, Long)] = _
  private var expected: Map[String, Seq[String]] = Map.empty
  private var bpeSeen: Option[Seq[String]] = None
  private var next = 0
  private var rounds = 0
  private val perOp = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  private def pairSchema(a: String, b: String) =
    StructType(Seq(StructField(a, LongType), StructField(b, LongType)))

  def setup(ctx: Ctx, first: Boolean): Unit = {
    val spark = ctx.spark
    edgeList = edges(ctx.seed)
    pairList = pairs(ctx.seed)
    writeParquet(spark, edgeList.map { case (a, b) => Row(a, b) }, pairSchema("a", "b"),
      new File(ctx.inputs, "edges"))
    writeParquet(spark, pairList.map { case (a, b) => Row(a, b) }, pairSchema("doc_a", "doc_b"),
      new File(ctx.inputs, "pairs"))
    writeParquet(spark, docs(ctx.seed), Gen.DocSchema, new File(ctx.inputs, "docs"))
    val sym = edgeList ++ edgeList.map(_.swap)
    expected = Map(
      "pagerank" -> Checks.pageRank(sym, PrIters, Scale).toSeq.map { case (k, v) => s"$k:$v" },
      "kcore" -> Checks.kCoreCensus(edgeList, CoreK, CoreRounds).map(_.productIterator.mkString("|")),
      "lpa" -> Checks.labelPropagation(edgeList, LpaRounds).toSeq.map { case (k, v) => s"$k:$v" },
      "ktruss" -> Checks.kTrussCensus(edgeList, TrussK, TrussRounds).map(_.productIterator.mkString("|")),
      "cc" -> Checks.components(pairList).toSeq.map { case (k, v) => s"$k:$v" })
    // a first set-up runs the whole rotation at a single round each
    // (every code path)
    if (first) Rotation.foreach(kind => exec(ctx, kind, warm = true))
    next = 0
    rounds = 0
    perOp.clear()
  }

  val passOps = Rotation.size

  private def pairsOf(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(r => s"${r.getLong(0)}:${r.getLong(1)}")
  private def census(df: DataFrame): Seq[String] =
    df.orderBy("round").collect().toSeq.map(_.toSeq.mkString("|"))

  /** Run one operator; returns (requested rounds, canonical result rows). */
  private def exec(ctx: Ctx, kind: String, warm: Boolean): (Int, Seq[String]) = {
    val spark = ctx.spark
    def in(what: String) = spark.read.parquet(new File(ctx.inputs, what).getPath)
    def r(n: Int) = if (warm) 1 else n
    kind match {
      case "pagerank" =>
        val e = in("edges")
        val ranks = Trace.span("operators.graph.pagerank") {
          Graph.pageRank(e.select(col("a").as("src"), col("b").as("dst"))
            .unionAll(e.select(col("b").as("src"), col("a").as("dst"))), r(PrIters))
        }
        val out = pairsOf(ranks)
        Blocks.releaseLocal(ranks)
        (r(PrIters), out)
      case "kcore" =>
        (r(CoreRounds), census(Trace.span("operators.graph.kcore") {
          Graph.kCore(in("edges"), CoreK, r(CoreRounds)) }))
      case "lpa" =>
        val labels = Trace.span("operators.graph.lpa") { Graph.labelPropagation(in("edges"), r(LpaRounds)) }
        val out = pairsOf(labels)
        Blocks.releaseLocal(labels)
        (r(LpaRounds), out)
      case "ktruss" =>
        (r(TrussRounds), census(Trace.span("operators.graph.ktruss") {
          Graph.kTruss(in("edges"), TrussK, r(TrussRounds)) }))
      case "cc" =>
        // localThreshold 0 forces the distributed label-propagation rounds
        val cc = Trace.span("dedup.cc") { Dedup.connectedComponents(in("pairs"), localThreshold = 0L) }
        val out = pairsOf(cc)
        Blocks.releaseLocal(cc)
        (0, out)
      case "bpe" =>
        val (merges, vocab) = Trace.span("text.bpe_train") { Bpe.train(in("docs"), r(BpeMerges)) }
        Blocks.releaseLocal(vocab)
        (r(BpeMerges), merges.map(m => s"${m.step}|${m.a}|${m.b}|${m.cnt}"))
    }
  }

  def op(ctx: Ctx): Op = {
    val kind = Rotation(next % Rotation.size)
    next += 1
    val t0 = System.nanoTime()
    val (r, got) = exec(ctx, kind, warm = false)
    perOp.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
    rounds += r
    Op(() => kind match {
      case "bpe" =>
        // BPE has no plain replay here: it must learn every merge, with
        // positive counts, identically on every rotation
        val shape = if (got.size == BpeMerges && got.forall(!_.endsWith("|0"))) Nil
          else Seq(s"bpe learned ${got.size} merges: $got")
        val stable = bpeSeen match {
          case Some(prev) if prev != got => Seq(s"bpe merges changed between rotations: $prev vs $got")
          case _ => Nil
        }
        bpeSeen = Some(got)
        shape ++ stable
      case other => Checks.sameRows(other, got, expected(other))
    })
  }

  override def details(opTimes: Seq[Double]): Seq[(String, Double, String)] =
    Seq(("rounds_per_s", rounds / perOp.values.map(_.sum).sum, "1/s")) ++
      Rotation.map(k => (s"${k}_p50_s", p50(perOp.getOrElse(k, Nil).toSeq), "s"))
}

// -------------------------------------------------------------------------
// A workload made of parts that share one session and run directory but
// no tables: a pass is each part's pass in turn, so every part's layers
// are measured in every run.
// -------------------------------------------------------------------------
final class Composite(val name: String, parts: Seq[Workload]) extends Workload {
  private var next = 0
  val passOps: Int = parts.map(_.passOps).sum
  private val schedule: IndexedSeq[Workload] = parts.flatMap(p => Seq.fill(p.passOps)(p)).toIndexedSeq
  private def part: Workload = schedule(next % passOps)

  def setup(ctx: Ctx, first: Boolean): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    // the parts set up side by side, as a driver starting independent
    // pipelines would (they share no tables); set-ups, the cold first one
    // above all, are most of a run's time
    val took = parts.map(p => Future {
      val t0 = System.nanoTime()
      p.setup(ctx, first)
      f"${p.name} ${(System.nanoTime() - t0) / 1e9}%.2f s"
    }).map(Await.result(_, scala.concurrent.duration.Duration.Inf))
    System.err.println(s"[perfbench] set-up parts: ${took.mkString(", ")}")
    next = 0
  }
  override def prepare(ctx: Ctx): Unit = part.prepare(ctx)
  override def inputBytes(ctx: Ctx): Long = part.inputBytes(ctx)
  def op(ctx: Ctx): Op = {
    val p = part
    next += 1
    p.op(ctx)
  }
  override def finalCheck(ctx: Ctx): Seq[String] = parts.flatMap(_.finalCheck(ctx))
  override def details(opTimes: Seq[Double]): Seq[(String, Double, String)] =
    parts.flatMap(_.details(opTimes))
  override def close(): Unit = parts.foreach(_.close())
}
