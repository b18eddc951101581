package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.spatial.{Dist, MBR, Point}

/** Reference answers, computed from the generated arrays in plain Scala
  * by brute force — an implementation independent of the library and of
  * Spark. Each check compares an operation's full collected output with
  * its reference on the key columns and returns an error, if any. */
object Checks {

  type Check = Array[Row] => Option[String]

  /** Order-independent comparison of key tuples (duplicates count). */
  def sameKeys(what: String, got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Option[String] = {
    def tally(xs: Seq[Seq[Any]]) = xs.groupBy(identity).view.mapValues(_.size).toMap
    if (got.length != want.length)
      Some(s"$what: ${got.length} rows, reference has ${want.length}")
    else {
      val (g, w) = (tally(got), tally(want))
      if (g == w) None
      else {
        val diff = (g.keySet ++ w.keySet).find(k => g.get(k) != w.get(k))
        Some(s"$what: rows differ from the reference, e.g. ${diff.get.mkString("(", ", ", ")")}")
      }
    }
  }

  def keyed(rows: Array[Row], cols: String*): Seq[Seq[Any]] =
    rows.toSeq.map(r => cols.map(c => r.get(r.fieldIndex(c)): Any))

  private def dist(a: Array[Double], b: Array[Double]): Double = {
    // same operation order as graft.functions.pointDistance
    var acc = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
    math.sqrt(acc)
  }

  /** Every (l, r) pair within `radius`, brute force. */
  def distancePairs(lid: Array[Long], lp: Array[Array[Double]],
                    rid: Array[Long], rp: Array[Array[Double]],
                    radius: Double): Seq[Seq[Any]] =
    for {
      i <- lid.indices
      j <- rid.indices
      if dist(lp(i), rp(j)) <= radius
    } yield Seq(lid(i), rid(j))

  /** Each left row's k nearest right rows, ties broken by right id. */
  def knnPairs(lid: Array[Long], lp: Array[Array[Double]],
               rid: Array[Long], rp: Array[Array[Double]], k: Int,
               d: (Int, Int) => Double = null): Seq[Seq[Any]] = {
    val f = if (d != null) d else (i: Int, j: Int) => dist(lp(i), rp(j))
    val byDist = Ordering.Tuple2[Double, Long]
    lid.indices.flatMap { i =>
      // bounded insertion: the k best (distance, id) seen so far
      val best = mutable.ArrayBuffer.empty[(Double, Long)]
      for (j <- rid.indices) {
        val c = (f(i, j), rid(j))
        if (best.length < k || byDist.lt(c, best.last)) {
          val at = best.indexWhere(byDist.lt(c, _)) match { case -1 => best.length; case x => x }
          best.insert(at, c)
          if (best.length > k) best.remove(k)
        }
      }
      best.map(p => Seq(lid(i), p._2))
    }
  }

  def boxes(x: Array[Double], y: Array[Double], hx: Double, hy: Double): Array[MBR] =
    x.indices.map(i => MBR(Point(Array(x(i) - hx, y(i) - hy)),
      Point(Array(x(i) + hx, y(i) + hy)))).toArray

  def intersectPairs(lid: Array[Long], l: Array[MBR],
                     rid: Array[Long], r: Array[MBR]): Seq[Seq[Any]] =
    for { i <- lid.indices; j <- rid.indices; if l(i).intersects(r(j)) }
      yield Seq(lid(i), rid(j))

  def boxPointDist(l: Array[MBR], rp: Array[Array[Double]]): (Int, Int) => Double =
    (i, j) => Dist.pointToMBR(rp(j), l(i))

  /** (node, degree, triangles) of the undirected part graph: two parts
    * are adjacent when they share an order. */
  def triangles(order: Array[Long], part: Array[Long]): Seq[Seq[Any]] = {
    val adj = mutable.HashMap.empty[Long, mutable.HashSet[Long]]
    order.indices.groupBy(order(_)).values.foreach { lines =>
      val ps = lines.map(part(_)).distinct
      for (a <- ps; b <- ps if a != b) adj.getOrElseUpdate(a, mutable.HashSet.empty) += b
    }
    adj.toSeq.map { case (v, ns) =>
      val t = ns.iterator.map(u => adj(u).count(w => w > u && ns.contains(w))).sum
      Seq[Any](v, ns.size.toLong, t.toLong)
    }
  }

  /** Exact repeated-span dedup at word-`n`-gram resolution: every
    * duplicated window keeps its first occurrence by (doc, position);
    * every token a later copy covers is cut. Returns
    * (doc_id, text_clean, n_tokens, n_removed). Texts are single-space
    * separated, so a split on " " is the library's tokenization. */
  def spanDedup(ids: Array[Long], texts: Array[String], n: Int): Seq[Seq[Any]] = {
    val toks = texts.map(_.split(" "))
    val first = mutable.HashMap.empty[String, (Int, Int)]
    for (d <- ids.indices; p <- 0 to toks(d).length - n) {
      val g = toks(d).slice(p, p + n).mkString(" ")
      if (!first.contains(g)) first(g) = (d, p)
    }
    ids.indices.map { d =>
      val t = toks(d)
      val cut = new Array[Boolean](t.length)
      for (p <- 0 to t.length - n)
        if (first(t.slice(p, p + n).mkString(" ")) != ((d, p)))
          for (q <- p until p + n) cut(q) = true
      val kept = t.indices.filterNot(cut).map(t(_))
      Seq[Any](ids(d), kept.mkString(" "), t.length.toLong, (t.length - kept.length).toLong)
    }
  }
}
