package graftbench

import scala.collection.mutable

/** Output checkers. Each takes plain collected values and returns the
  * failures it found (empty = correct), so they can be exercised on
  * deliberately corrupted outputs without Spark. */
object Checks {
  /** Multiset equality of canonical row strings. */
  def sameRows(what: String, actual: Seq[String], expected: Seq[String]): Seq[String] = {
    val a = actual.groupBy(identity).view.mapValues(_.size).toMap
    val e = expected.groupBy(identity).view.mapValues(_.size).toMap
    val extra = a.iterator.map { case (k, n) => n - e.getOrElse(k, 0) }.filter(_ > 0).sum
    val missing = e.iterator.map { case (k, n) => n - a.getOrElse(k, 0) }.filter(_ > 0).sum
    if (extra == 0 && missing == 0) Nil
    else Seq(s"$what: $extra unexpected and $missing missing rows " +
      s"(${actual.size} actual vs ${expected.size} expected)")
  }

  def sameIds(what: String, actual: Seq[Long], expected: Set[Long]): Seq[String] =
    sameRows(what, actual.map(_.toString), expected.toSeq.map(_.toString))

  /** A stored (row count, checksum) pair. */
  def sameChecksum(what: String, rows: Long, sum: String, expRows: Long, expSum: String): Seq[String] =
    if (rows == expRows && sum == expSum) Nil
    else Seq(s"$what: got $rows rows / checksum $sum, stored $expRows / $expSum")

  // ---------------------------------------------------------------------
  // Plain-Scala replays of the graph operators' documented semantics.
  // ---------------------------------------------------------------------
  type Edge = (Long, Long)

  /** Graph.pageRank over a directed multigraph, integer fixed point. */
  def pageRank(edges: Seq[Edge], iters: Int, scale: Long): Map[Long, Long] = {
    val od = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val base = 15L * scale / 100L
    var rank = nodes.map(_ -> scale).toMap
    for (_ <- 0 until iters) {
      val in = mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (u, v) => in(v) += rank(u) / od(u) }
      rank = nodes.map(n => n -> (base + 85L * in(n) / 100L)).toMap
    }
    rank
  }

  private def degrees(edges: Iterable[Edge]): Map[Long, Int] =
    edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSeq.groupBy(identity).view.mapValues(_.size).toMap

  /** Graph.kCore census rows: (round, n_nodes, n_removed, n_edges_after). */
  def kCoreCensus(edges: Seq[Edge], k: Int, rounds: Int): Seq[(Int, Long, Long, Long)] = {
    var cur = edges.toSet
    (1 to rounds).map { r =>
      val deg = degrees(cur)
      val keep = deg.filter(_._2 >= k).keySet
      val next = cur.filter(e => keep(e._1) && keep(e._2))
      val row = (r, deg.size.toLong, deg.count(_._2 < k).toLong, next.size.toLong)
      cur = next
      row
    }
  }

  /** Graph.kTruss census rows: (round, n_edges, n_removed, n_edges_after). */
  def kTrussCensus(edges: Seq[Edge], k: Int, rounds: Int): Seq[(Int, Long, Long, Long)] = {
    var cur = edges.toSet
    (1 to rounds).map { r =>
      val adj = mutable.Map.empty[Long, mutable.Set[Long]]
      cur.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, mutable.Set.empty) += b
        adj.getOrElseUpdate(b, mutable.Set.empty) += a
      }
      val next = cur.filter { case (a, b) =>
        val (s, l) = if (adj(a).size <= adj(b).size) (adj(a), adj(b)) else (adj(b), adj(a))
        s.count(l.contains) >= k - 2
      }
      val row = (r, cur.size.toLong, (cur.size - next.size).toLong, next.size.toLong)
      cur = next
      row
    }
  }

  /** Graph.labelPropagation: synchronous rounds, each node takes the most
    * frequent neighbour label, ties to the smallest label. */
  def labelPropagation(edges: Seq[Edge], rounds: Int): Map[Long, Long] = {
    val nbrs = (edges ++ edges.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var label = nbrs.keys.map(n => n -> n).toMap
    for (_ <- 0 until rounds) {
      label = nbrs.map { case (u, vs) =>
        val counts = vs.groupBy(label).view.mapValues(_.size).toSeq
        u -> counts.minBy { case (l, c) => (-c, l) }._1
      }
    }
    label
  }

  /** Union-find with min-id roots: node -> smallest id of its component. */
  def components(pairs: Seq[Edge]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(n => n -> find(n)).toMap
  }
}
