package graftbench

import java.io.File

/** Tests of the benchmark itself (no Spark session needed):
  *   - the same seed generates byte-identical inputs, another seed
  *     different ones, for every workload;
  *   - every checker accepts the true output and rejects one with a row
  *     added and one with a row removed.
  * Returns the process exit code. */
object SelfTest {
  def run(benchDir: File): Int = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def expect(what: String, ok: Boolean): Unit = {
      println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += what
    }

    Workloads.names.foreach { w =>
      val a = Workloads.inputDigest(w, 7L, benchDir)
      val b = Workloads.inputDigest(w, 7L, benchDir)
      val c = Workloads.inputDigest(w, 8L, benchDir)
      expect(s"$w: same seed gives identical inputs", a == b)
      expect(s"$w: another seed gives different inputs", a != c)
    }

    /** The checker accepts `truth` and rejects it with one row added or
      * one row removed. */
    def rejects(what: String, check: Seq[String] => Seq[String], truth: Seq[String], extra: String): Unit = {
      expect(s"$what: accepts the true output", check(truth).isEmpty)
      expect(s"$what: rejects one extra row", check(truth :+ extra).nonEmpty)
      expect(s"$what: rejects one missing row", check(truth.tail).nonEmpty)
    }

    // curation_ingest_graph, ingest part: destination vs the model, append table vs all rows
    val src = IngestCycles.source(3L)
    src.advance(); src.advance()
    val dest = src.expectedDestination.map(_.row.mkString("|"))
    rejects("ingest destination", Checks.sameRows("orders", _, dest), dest,
      src.orders.find(_.deleted.nonEmpty).get.row.mkString("|"))
    val evs = src.events.map(_.row.mkString("|")).toSeq
    rejects("ingest append table", Checks.sameRows("events", _, evs), evs, evs.head)

    // curation_ingest_graph, curation part: admitted ids in each table
    val docs = new Gen.DocStream(3L, CurationStream.BatchDocs)
    for (_ <- 0 until 5) docs.nextBatch()
    val novel = docs.ids(Gen.Kind.Novel).toSeq.sorted
    val near = docs.ids(Gen.Kind.Near).toSeq.sorted
    def curation(ids: Seq[Long]) = CurationStream.check(docs.kinds, ids, ids, ids)
    rejects("curation tables", ids => curation(ids.map(_.toLong)), novel.map(_.toString),
      docs.ids(Gen.Kind.Exact).head.toString)
    expect("curation check rejects a low-quality doc",
      curation(novel :+ docs.ids(Gen.Kind.LowQuality).head).nonEmpty)
    expect("curation check accepts a few admitted near-duplicates",
      curation(novel ++ near.take(near.size / 2)).isEmpty)
    expect("curation check rejects most near-duplicates admitted",
      curation(novel ++ near.take(near.size / 2 + 1)).nonEmpty)
    expect("curation check rejects tables that disagree",
      CurationStream.check(docs.kinds, novel, novel.tail, novel).nonEmpty)
    expect("curation stream injects every kind",
      Gen.Kind.values.forall(k => docs.kinds.values.exists(_ == k)))

    // query_mix: stored row count and checksum
    val stored = QueryMix.frozen(benchDir)
    expect("query_mix list is non-empty", stored.nonEmpty)
    stored.headOption.foreach { e =>
      expect("query checksum accepts the stored result",
        Checks.sameChecksum(e.name, e.rows, e.checksum, e.rows, e.checksum).isEmpty)
      expect("query checksum rejects one extra row",
        Checks.sameChecksum(e.name, e.rows + 1, e.checksum, e.rows, e.checksum).nonEmpty)
      expect("query checksum rejects a changed checksum",
        Checks.sameChecksum(e.name, e.rows, e.checksum + "1", e.rows, e.checksum).nonEmpty)
    }

    // curation_ingest_graph, graph part: replays against corrupted results
    val edges = GraphRounds.edges(3L)
    val pr = Checks.pageRank(edges ++ edges.map(_.swap), GraphRounds.PrIters, GraphRounds.Scale)
    val prRows = pr.toSeq.map { case (k, v) => s"$k:$v" }
    rejects("pagerank ranks", Checks.sameRows("pagerank", _, prRows), prRows, "999999:1")
    val cc = Checks.components(GraphRounds.pairs(3L)).toSeq.map { case (k, v) => s"$k:$v" }
    rejects("connected components", Checks.sameRows("cc", _, cc), cc, "-1:-1")
    val core = Checks.kCoreCensus(edges, GraphRounds.CoreK, GraphRounds.CoreRounds)
      .map(_.productIterator.mkString("|"))
    rejects("kcore census", Checks.sameRows("kcore", _, core), core, "9|0|0|0")
    val truss = Checks.kTrussCensus(edges, GraphRounds.TrussK, GraphRounds.TrussRounds)
      .map(_.productIterator.mkString("|"))
    rejects("ktruss census", Checks.sameRows("ktruss", _, truss), truss, "9|0|0|0")
    val lpa = Checks.labelPropagation(edges, GraphRounds.LpaRounds).toSeq.map { case (k, v) => s"$k:$v" }
    rejects("lpa labels", Checks.sameRows("lpa", _, lpa), lpa, "-1:-1")
    // a hand-sized graph: triangle 1-2-3 plus pendant 3-4
    val tiny = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    expect("kcore census on a triangle with a pendant",
      Checks.kCoreCensus(tiny, 2, 2) == Seq((1, 4L, 1L, 3L), (2, 3L, 0L, 3L)))
    expect("ktruss census on a triangle with a pendant",
      Checks.kTrussCensus(tiny, 3, 1) == Seq((1, 4L, 1L, 3L)))
    expect("union-find takes the smallest id",
      Checks.components(Seq((5L, 3L), (3L, 9L), (7L, 8L))) == Map(5L -> 3L, 3L -> 3L, 9L -> 3L, 7L -> 7L, 8L -> 7L))

    println(s"[selftest] ${failures.size} failed")
    if (failures.isEmpty) 0 else 1
  }
}
