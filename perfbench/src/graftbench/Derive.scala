package graftbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkEntry

/** Derives the frozen query_mix list once:
  *
  *   graftbench.Main --mode derive --record <bench record json>
  *                   --run-dir <dir> --bench-dir <dir> [--max-s 1.0]
  *
  * Takes every registry query the record times below `--max-s`, minus the
  * bench-hoisted MinHash pair family and ANN family and the graph/BPE
  * queries (graph_rounds measures those), runs each twice on the
  * benchmark fixture (second pass in reverse order, cache cleared before
  * each run), and keeps the ones that succeed, agree with themselves and
  * write nothing to the catalog or the warehouse. The list is stored with
  * each query's row count and checksum; later registry changes cannot
  * change the mix without re-deriving it. */
object Derive {
  /** graft.Bench's hoisted families (pairFamily, annFamily). */
  val Hoisted: Set[String] = Set(
    "dedup_clusters", "dedup_degree_hist", "dedup_cluster_size_hist",
    "dedup_jaccard_hist", "dedup_apply", "dedup_apply_best",
    "dedup_minhash_bbit", "dedup_minhash_est_quality",
    "split_leakage", "corpus_report",
    "sim_ann_ivf", "sim_ann_recall", "sim_ann_pq", "sim_ann_ivfpq",
    "sim_ann_ivfpq_rerank", "sim_ann_ivfadc", "sim_ann_nprobe_sweep",
    "dedup_semantic_kmeans", "dedup_semantic_apply", "dedup_semantic_incr",
    "emb_prototypicality", "emb_silhouette", "emb_pq_distortion")

  def eligible(record: Map[String, Double], maxS: Double): Seq[String] =
    record.toSeq.collect {
      case (q, s) if s < maxS && !Hoisted(q) && !q.startsWith("graph_") && !q.startsWith("bpe_") => q
    }.sorted

  def run(args: Array[String]): Unit = {
    val record = new File(Main.arg(args, "record").get)
    val runDir = new File(Main.arg(args, "run-dir").get)
    val benchDir = new File(Main.arg(args, "bench-dir").get)
    val maxS = Main.arg(args, "max-s").map(_.toDouble).getOrElse(1.0)
    val times = new ObjectMapper().readTree(record).get("queries").fields().asScala
      .map(e => e.getKey -> e.getValue.asDouble()).toMap
    val candidates = eligible(times, maxS).filter(SparkEntry.queries.contains)

    val spark = Main.session(runDir, math.min(4, Runtime.getRuntime.availableProcessors()))
    val ctx = new Ctx(spark, runDir, 0L, benchDir)
    val fixture = new File(ctx.inputs, "fixture")
    QueryMix.writeFixture(spark, fixture)
    Trace.install(spark)
    val queries = SparkEntry.queries

    def once(q: String): Either[String, (Long, String)] = {
      spark.catalog.clearCache()
      val before = Workloads.files(ctx.warehouse)
      val catalogBefore = Trace.synchronized(Trace.catalogEvents.values.sum)
      try {
        val t0 = System.nanoTime()
        val r = Workloads.checksum(queries(q)(spark, fixture.getPath))
        val dt = (System.nanoTime() - t0) / 1e9
        val wrote = Workloads.files(ctx.warehouse) != before ||
          Trace.synchronized(Trace.catalogEvents.values.sum) != catalogBefore
        System.err.println(f"[derive] $q%-36s ${dt}%.3f s rows=${r._1}")
        if (wrote) Left("writes to the catalog or warehouse") else Right(r)
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    val first = candidates.map(q => q -> once(q)).toMap
    val second = candidates.reverse.map(q => q -> once(q)).toMap
    val kept = candidates.filter(q => first(q).isRight && first(q) == second(q))
    candidates.filterNot(kept.contains).foreach { q =>
      System.err.println(s"[derive] dropped $q: ${first(q).left.getOrElse(
        second(q).left.getOrElse("checksum differs between runs"))}")
    }
    spark.stop()
    Main.deleteTree(runDir)

    val body = kept.map { q =>
      val (rows, sum) = first(q).toOption.get
      s"""    {"name": "$q", "rows": $rows, "checksum": "$sum"}"""
    }.mkString(",\n")
    val json =
      s"""{
         |  "derived_from": "${record.getName}",
         |  "rule": "registry queries under $maxS s in the record, minus the hoisted pair/ANN families and graph_*/bpe_*, that run clean and repeatably on the benchmark fixture and write nothing",
         |  "fixture_seed": ${QueryMix.FixtureSeed},
         |  "fixture_scale": ${QueryMix.Scale},
         |  "queries": [
         |$body
         |  ]
         |}
         |""".stripMargin
    Files.write(new File(benchDir, "query_mix.json").toPath, json.getBytes("UTF-8"))
    System.err.println(s"[derive] kept ${kept.size} of ${candidates.size} candidates")
  }
}
