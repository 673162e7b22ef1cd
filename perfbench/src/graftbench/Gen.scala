package graftbench

import java.security.MessageDigest
import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generators. Everything graft sees is built here from a
  * seed with plain JVM random streams (no Spark randomness), so the same
  * seed yields the same rows on any host and at any parallelism. */
object Gen {
  /** Independent stream `stream` of seed `seed`. */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 1L)

  /** SHA-256 over the rows' string forms, in order: the canonical digest
    * the determinism tests compare. */
  def digest(rows: Iterator[Any]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Fisher-Yates shuffle, driven by `r`. */
  def shuffled[T: scala.reflect.ClassTag](r: SplittableRandom, xs: Seq[T]): IndexedSeq[T] = {
    val a = xs.toArray
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toIndexedSeq
  }

  private def round2(x: Double): Double = math.round(x * 100.0) / 100.0

  /** The fixture corpus vocabulary (the real fixture's word list). */
  val FixtureWords: IndexedSeq[String] = IndexedSeq(
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "spark", "line", "sort", "window", "group",
    "order", "data", "column", "join", "small", "customer", "query", "big",
    "stream", "filter", "a", "the")
  /** graft's English stopword list (TextAnalysis.stopwordRatio). */
  val Stopwords: Set[String] = Set("the", "a", "and", "of", "to", "in", "is")

  // ---------------------------------------------------------------------
  // Fixture tables (the registry's star schema + events/documents/
  // embeddings), shaped like the fixture tables in FIXTURES.md: same
  // schemas, key domains and value ranges. Row counts are the sf0.1 counts × `scale`.
  // ---------------------------------------------------------------------
  final case class Table(name: String, schema: StructType, rows: IndexedSeq[Row])

  def fixture(seed: Long, scale: Double): Seq[Table] = {
    def n(base: Int): Int = math.max(1, math.round(base * scale).toInt)
    val nCust = n(15000); val nSupp = math.max(10, n(1000)); val nPart = n(20000)
    val nOrders = n(150000); val nEvents = n(100000); val nDocs = n(5000)
    val nVec = math.max(200, n(2000))
    val nUsers = math.max(10, nEvents / 66)

    val region = Table("region",
      StructType(Seq(StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
      IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (nm, i) => Row(i, nm) })
    val nation = Table("nation",
      StructType(Seq(StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val rs = rng(seed, 1)
    val supplier = Table("supplier",
      StructType(Seq(StructField("s_suppkey", LongType), StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        round2(-999.99 + rs.nextDouble() * 10999.98))))

    val rc = rng(seed, 2)
    val segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val customer = Table("customer",
      StructType(Seq(StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        round2(-999.99 + rc.nextDouble() * 10999.98), segments(rc.nextInt(5)))))

    val rp = rng(seed, 3)
    val adjs = IndexedSeq("blue", "small", "large", "hot", "red", "green", "shiny", "cold")
    val nouns = IndexedSeq("anvil", "widget", "ring", "bolt", "gear", "spring", "nut", "pipe")
    val types = IndexedSeq("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
    val part = Table("part",
      StructType(Seq(StructField("p_partkey", LongType), StructField("p_name", StringType),
        StructField("p_brand", StringType), StructField("p_type", StringType),
        StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        adjs(rp.nextInt(adjs.size)) + " " + nouns(rp.nextInt(nouns.size)),
        s"Brand#${1 + rp.nextInt(25)}", types(rp.nextInt(types.size)),
        1 + rp.nextInt(50), round2(900.0 + (i % 1000) / 10.0))))

    val ro = rng(seed, 4)
    val day0 = LocalDate.of(1995, 1, 1)
    val statuses = IndexedSeq("F", "O", "P")
    val prios = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orderDays = new Array[Int](nOrders)
    val orders = Table("orders",
      StructType(Seq(StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType))),
      (0 until nOrders).map { i =>
        orderDays(i) = ro.nextInt(2405)
        Row(i.toLong, ro.nextInt(nCust).toLong, statuses(ro.nextInt(3)),
          round2(1000.0 + ro.nextDouble() * 499000.0),
          day0.plusDays(orderDays(i).toLong).atStartOfDay(), prios(ro.nextInt(5)))
      })

    val rl = rng(seed, 5)
    val lineRows = mutable.ArrayBuffer.empty[Row]
    var o = 0
    while (o < nOrders) {
      val lines = 1 + rl.nextInt(7)
      var ln = 1
      while (ln <= lines) {
        val pk = rl.nextInt(nPart)
        val qty = (1 + rl.nextInt(50)).toDouble
        lineRows += Row(o.toLong, pk.toLong, rl.nextInt(nSupp).toLong, ln, qty,
          round2(qty * (900.0 + (pk % 1000) / 10.0) * (0.9 + rl.nextDouble() * 0.2)),
          rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0,
          IndexedSeq("A", "N", "R")(rl.nextInt(3)), IndexedSeq("F", "O")(rl.nextInt(2)),
          day0.plusDays((orderDays(o) + 1 + rl.nextInt(121)).toLong).atStartOfDay())
        ln += 1
      }
      o += 1
    }
    val lineitem = Table("lineitem",
      StructType(Seq(StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
        StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
        StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
        StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
        StructField("l_shipdate", TimestampNTZType))),
      lineRows.toIndexedSeq)

    val re = rng(seed, 6)
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val spanMicros = 30L * 86400L * 1000000L
    val evTimes = Array.fill(nEvents)((re.nextDouble() * spanMicros).toLong).sorted
    val evTypes = IndexedSeq("click", "view", "purchase", "signup", "error")
    val events = Table("events",
      StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampNTZType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))),
      (0 until nEvents).map(i => Row(i.toLong, t0.plusNanos(evTimes(i) * 1000L),
        re.nextInt(nUsers).toLong, evTypes(re.nextInt(5)),
        round2(0.01 + re.nextDouble() * 490.0), s"""{"k": ${re.nextInt(100)}}""")))

    val documents = Table("documents",
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))),
      fixtureDocs(rng(seed, 7), nDocs))

    val rv = rng(seed, 8)
    val dim = 64
    val centroids = Array.fill(10)(Array.fill(dim)(rv.nextGaussian()))
    val embeddings = Table("embeddings",
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = true)),
        StructField("label", IntegerType))),
      (0 until nVec).map { i =>
        val label = rv.nextInt(10)
        val v = Array.tabulate(dim)(j => centroids(label)(j) + 0.8 * rv.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })

    Seq(region, nation, supplier, customer, part, orders, lineitem, events, documents, embeddings)
  }

  /** The fixture's `documents` rows (doc_id, text, lang, source,
    * n_chars): 8 to 92 words drawn uniformly from [[FixtureWords]]. */
  def fixtureDocs(r: SplittableRandom, n: Int): IndexedSeq[Row] = {
    val langs = IndexedSeq("en", "en", "en", "zh", "de", "fr", "es")
    (0 until n).map { i =>
      val toks = 8 + r.nextInt(85)
      val text = (0 until toks).map(_ => FixtureWords(r.nextInt(FixtureWords.size))).mkString(" ")
      Row(i.toLong, text, langs(r.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
    }
  }

  // ---------------------------------------------------------------------
  // ingest_cycles: an RDBMS-like source. `orders` is merged (keyed by id,
  // versioned by last_modified, soft-deleted by `deleted`); `events` is
  // appended by id watermark. The model holds exactly one current row per
  // key, the way the source table would.
  // ---------------------------------------------------------------------
  final case class Order(id: Long, custId: Long, status: String, total: Double,
      value: String, created: LocalDateTime, lastModified: LocalDateTime,
      date: String, deleted: Option[Int]) {
    def row: Row = Row(id, custId, status, total, value, created, lastModified, date,
      deleted.map(Int.box).orNull)
  }
  final case class Event(id: Long, ts: LocalDateTime, userId: Long, eventType: String,
      value: Double, date: String) {
    def row: Row = Row(id, ts, userId, eventType, value, date)
  }
  val OrderSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("cust_id", LongType),
    StructField("status", StringType), StructField("total", DoubleType),
    StructField("value", StringType), StructField("created", TimestampNTZType),
    StructField("last_modified", TimestampNTZType), StructField("date", StringType),
    StructField("deleted", IntegerType)))
  val EventSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("date", StringType)))

  final class IngestSource(seed: Long, initialOrders: Int, initialEvents: Int,
      val newOrders: Int, val bumpShare: Double, val deletes: Int, val newEvents: Int) {
    private val r = rng(seed, 11)
    private val clock0 = LocalDateTime.of(2024, 3, 1, 0, 0)
    val orders = mutable.ArrayBuffer.empty[Order]
    val events = mutable.ArrayBuffer.empty[Event]
    /** Cycle 0 is the initial load; every later cycle is one increment. */
    var cycle = 0
    /** Rows inserted or changed by the latest cycle. */
    var deltaOrders: IndexedSeq[Order] = IndexedSeq.empty
    var deltaEvents: IndexedSeq[Event] = IndexedSeq.empty

    private def stamp(): LocalDateTime =
      clock0.plusHours(cycle.toLong).plusSeconds(1L + r.nextInt(3598))
    private def date(): String = clock0.toLocalDate.plusDays(cycle.toLong).toString
    private def addOrders(k: Int): IndexedSeq[Order] = (0 until k).map { _ =>
      val ts = stamp()
      val o = Order(orders.size.toLong, r.nextInt(1 << 16).toLong,
        IndexedSeq("F", "O", "P")(r.nextInt(3)), round2(1000.0 + r.nextDouble() * 499000.0),
        s"v${r.nextInt(1000000)}", ts, ts, date(), None)
      orders += o
      o
    }
    private def addEvents(k: Int): IndexedSeq[Event] = (0 until k).map { _ =>
      val e = Event(events.size.toLong, stamp(), r.nextInt(5000).toLong,
        IndexedSeq("click", "view", "purchase", "signup", "error")(r.nextInt(5)),
        round2(r.nextDouble() * 500.0), date())
      events += e
      e
    }

    deltaOrders = addOrders(initialOrders)
    deltaEvents = addEvents(initialEvents)

    /** One source increment: new ids strictly above every existing id,
      * a seeded share of live keys re-versioned, a few live keys
      * soft-deleted. */
    def advance(): Unit = {
      cycle += 1
      val live = orders.iterator.filter(_.deleted.isEmpty).map(_.id.toInt).toIndexedSeq
      val picks = mutable.LinkedHashSet.empty[Int]
      val nBump = math.max(1, (live.size * bumpShare).toInt)
      while (picks.size < math.min(live.size, nBump + deletes))
        picks += live(r.nextInt(live.size))
      val chosen = picks.toIndexedSeq
      val changed = chosen.zipWithIndex.map { case (id, j) =>
        val o = orders(id)
        val u =
          if (j < deletes) o.copy(lastModified = stamp(), deleted = Some(1))
          else o.copy(value = s"v${r.nextInt(1000000)}", lastModified = stamp(),
            total = round2(o.total + 1.0))
        orders(id) = u
        u
      }
      deltaOrders = changed ++ addOrders(newOrders)
      deltaEvents = addEvents(newEvents)
    }

    /** What the merged destination must hold: latest version per key,
      * soft-deleted keys gone. */
    def expectedDestination: IndexedSeq[Order] = orders.filter(_.deleted.isEmpty).toIndexedSeq
  }

  // ---------------------------------------------------------------------
  // curation_stream: micro-batches of documents. Novel docs are the sf0.1
  // `documents` table (5,000 docs of the fixture model above), in order.
  // Injected docs: exact duplicates (case/whitespace variants of an
  // admitted doc), near-duplicates (an admitted doc of at least
  // `NearMinWords` words with one word in fifty, at least one, replaced
  // by another fixture word), and low-quality fragments (1 to 4
  // non-stopword words). The model tracks each id's kind.
  // ---------------------------------------------------------------------
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType),
    StructField("source", StringType)))

  object Kind extends Enumeration { val Novel, Exact, Near, LowQuality = Value }

  /** sf0.1 `documents` row count. */
  val SfDocs = 5000
  val NearMinWords = 40
  private val ContentWords = FixtureWords.filterNot(Stopwords.contains)

  final class DocStream(seed: Long, val batchDocs: Int) {
    private val r = rng(seed, 21)
    private val corpus = fixtureDocs(rng(seed, 22), SfDocs).map(_.getString(1))
    private var nextNovel = 0
    private var nextId = 0L
    private val originals = mutable.ArrayBuffer.empty[String]
    private val longOriginals = mutable.ArrayBuffer.empty[IndexedSeq[String]]
    val kinds = mutable.LinkedHashMap.empty[Long, Kind.Value]

    def ids(kind: Kind.Value): Set[Long] = kinds.iterator.collect { case (id, `kind`) => id }.toSet

    private def nearDuplicate(words: IndexedSeq[String]): String = {
      val w = words.toArray
      shuffled(r, w.indices).take(1 + w.length / 50).foreach { i =>
        var x = w(i)
        while (x == w(i)) x = FixtureWords(r.nextInt(FixtureWords.size))
        w(i) = x
      }
      w.mkString(" ")
    }

    /** The next micro-batch as (doc_id, text, source) rows. */
    def nextBatch(): IndexedSeq[Row] = {
      // a fixed composition per batch (a tenth each of exact, near and
      // low-quality docs, the rest novel) at seeded positions
      shuffled(r, (0 until batchDocs).map(_ * 10 / batchDocs)).map { slot =>
        val id = nextId
        nextId += 1
        val (kind, text) =
          if (originals.nonEmpty && slot == 0) {
            val o = originals(r.nextInt(originals.size))
            Kind.Exact -> (if (r.nextBoolean()) o.toUpperCase else "  " + o.replace(" ", "  ") + " ")
          } else if (longOriginals.nonEmpty && slot == 1) {
            Kind.Near -> nearDuplicate(longOriginals(r.nextInt(longOriginals.size)))
          } else if (slot == 2) {
            Kind.LowQuality -> (0 until 1 + r.nextInt(4))
              .map(_ => ContentWords(r.nextInt(ContentWords.size))).mkString(" ")
          } else {
            require(nextNovel < corpus.size, s"the stream has used all $SfDocs documents")
            val t = corpus(nextNovel)
            nextNovel += 1
            originals += t
            val words = t.split(' ').toIndexedSeq
            if (words.size >= NearMinWords) longOriginals += words
            Kind.Novel -> t
          }
        kinds(id) = kind
        Row(id, text, s"src${id % 20}")
      }
    }
  }

  /** A corpus for the BPE trainer: `n` documents of the fixture model. */
  def bpeDocs(seed: Long, n: Int): IndexedSeq[Row] =
    fixtureDocs(rng(seed, 31), n).map(d => Row(d.getLong(0), d.getString(1), d.getString(3)))

  // ---------------------------------------------------------------------
  // graph_rounds: a simple undirected graph (a < b, distinct) with a
  // skewed degree distribution (endpoint i drawn with weight ~ (i+1)^-0.75),
  // plus a forest of small clusters for connected components.
  // ---------------------------------------------------------------------
  def skewedEdges(seed: Long, nodes: Int, edges: Int): IndexedSeq[(Long, Long)] = {
    val r = rng(seed, 41)
    val perm = shuffled(r, 0 until nodes)
    val cdf = {
      val w = Array.tabulate(nodes)(k => math.pow(k + 1.0, -0.75))
      var acc = 0.0
      w.map { x => acc += x; acc }
    }
    def draw(): Int = {
      val u = r.nextDouble() * cdf.last
      var lo = 0; var hi = nodes - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
      perm(lo)
    }
    val out = mutable.LinkedHashSet.empty[(Long, Long)]
    while (out.size < edges) {
      val a = draw(); val b = draw()
      if (a != b) out += ((math.min(a, b).toLong, math.max(a, b).toLong))
    }
    out.toIndexedSeq
  }

  /** Pairs forming a forest of small trees (cluster sizes 1..4), ids
    * shuffled, so connected components needs a handful of rounds. */
  def clusterPairs(seed: Long, nodes: Int): IndexedSeq[(Long, Long)] = {
    val r = rng(seed, 42)
    val ids = shuffled(r, (0 until nodes).map(_.toLong))
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    var start = 0
    while (start < nodes) {
      val size = math.min(nodes - start, 1 + r.nextInt(4))
      for (k <- 1 until size) {
        val parent = ids(start + r.nextInt(k))
        val child = ids(start + k)
        out += ((math.min(parent, child), math.max(parent, child)))
      }
      start += size
    }
    out.toIndexedSeq
  }
}
