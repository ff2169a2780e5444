package perfbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

/** Output checkers. Each takes collected output plus ground truth from the
  * generator or a driver-side reference, and returns the problems found
  * (empty = correct). They run outside the timed region.
  */
object Checks {

  type Problems = Seq[String]

  private def require(ok: Boolean, msg: => String): Problems =
    if (ok) Nil else Seq(msg)

  /** Order-independent digest of a row set. Doubles are printed to 12
    * significant digits, so a float sum whose association order moved
    * does not change the digest while any real value change does.
    */
  def digest(rows: Iterable[Seq[Any]]): String = {
    var a = 0L
    var b = 0L
    var n = 0L
    for (r <- rows) {
      val s = r.map {
        case d: Double => f"$d%.12g"
        case f: Float => f"${f.toDouble}%.6g"
        case x => String.valueOf(x)
      }.mkString("\u0001")
      a += MurmurHash3.stringHash(s, 17).toLong & 0xffffffffL
      b += MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL
      n += 1
    }
    f"$n:$a%x:$b%x"
  }

  /** Min-node-id component labels by union-find over `edges`. Self-loops
    * are dropped, as connectedComponents drops them.
    */
  def componentLabels(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val p = parent(y); parent(y) = r; y = p }
      r
    }
    for ((u, v) <- edges if u != v) {
      parent.getOrElseUpdate(u, u); parent.getOrElseUpdate(v, v)
      val (ru, rv) = (find(u), find(v))
      // the smaller id becomes the root, so a root is its set's minimum
      if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  def components(got: Seq[(Long, Long)], edges: Iterable[(Long, Long)]):
      Problems = {
    val want = componentLabels(edges)
    val gotMap = got.toMap
    require(gotMap.size == got.size, s"${got.size - gotMap.size} duplicate nodes") ++
      require(gotMap.keySet == want.keySet,
        s"node set differs: got ${gotMap.size}, want ${want.size}") ++ {
        val wrong = want.count { case (n, c) => gotMap.get(n).exists(_ != c) }
        require(wrong == 0, s"$wrong nodes carry a label other than the " +
          "minimum node id of their component")
      }
  }

  /** Every planted near-duplicate pair shares a cluster. */
  def plantedClustered(clusters: Map[Long, Long], planted: Seq[(Long, Long)]):
      Problems = {
    val missed = planted.count { case (a, b) =>
      clusters.get(a).isEmpty || clusters.get(a) != clusters.get(b)
    }
    require(missed == 0, s"$missed of ${planted.size} planted pairs split")
  }

  /** Mean recall@k at or above `floor`, over exactly `queries` queries. */
  def recall(perQuery: Seq[Double], queries: Int, floor: Double): Problems = {
    val mean = if (perQuery.isEmpty) 0.0 else perQuery.sum / perQuery.size
    require(perQuery.size == queries,
      s"recall rows for ${perQuery.size} of $queries queries") ++
      require(mean >= floor, f"recall@k $mean%.4f below floor $floor%.4f")
  }

  /** Exactly `k` result rows for each of `queries`. */
  def kPerQuery(queryIds: Seq[Long], queries: Set[Long], k: Int): Problems = {
    val counts = queryIds.groupBy(identity).view.mapValues(_.size).toMap
    val bad = queries.filterNot(q => counts.getOrElse(q, 0) == k)
    require(bad.isEmpty && counts.keySet.subsetOf(queries),
      s"queries without exactly $k rows: ${bad.toSeq.sorted.mkString(",")}")
  }

  /** Silver table checks: the row count, no null in any imputed column,
    * and the wind of the station missing from the dimension imputed to 0
    * on exactly the rows that had no wind reading.
    */
  def silver(columns: Seq[String], rows: Seq[Seq[Any]], wantRows: Long,
      imputed: Seq[String], missingStation: String, wantZeroWind: Long):
      Problems = {
    val idx = columns.zipWithIndex.toMap
    val nulls = rows.count(r => imputed.exists(c => r(idx(c)) == null))
    val zeroWind = rows.count(r => r(idx("station")) == missingStation &&
      Option(r(idx("avg_wind_speed"))).exists(_.toString.toDouble == 0.0))
    equal("silver rows", rows.size, wantRows) ++
      equal("rows with a null imputed value", nulls, 0) ++
      equal("missing station's zero-imputed wind rows", zeroWind, wantZeroWind)
  }

  def equal(what: String, got: Long, want: Long): Problems =
    require(got == want, s"$what: got $got, want $want")
}
