package perfbench

/** Self-tests of the benchmark's own checkers: each must accept a correct
  * output and reject a corrupted one. No Spark needed.
  *
  * Run: `python3 perfbench/selftest.py` (builds, then runs this).
  */
object SelfTest {
  private var failures = 0

  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    // connected components: a path 1-2-3, a pair 7-9, a node 5-6
    val edges = Seq((2L, 1L), (3L, 2L), (9L, 7L), (5L, 6L), (4L, 4L))
    val good = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L,
      5L -> 5L, 6L -> 5L)
    expect("union-find labels are min node ids",
      Checks.componentLabels(edges) == good.toMap)
    expect("components: correct labels pass",
      Checks.components(good, edges).isEmpty)
    expect("components: one relabeled node fails",
      Checks.components(good.updated(2, 3L -> 3L), edges).nonEmpty)
    expect("components: a missing node fails",
      Checks.components(good.tail, edges).nonEmpty)
    expect("components: a duplicated node fails",
      Checks.components(good :+ (3L -> 1L), edges).nonEmpty)

    // planted near-duplicates
    val clusters = Map(1L -> 1L, 1000001L -> 1L, 2L -> 2L, 1000002L -> 2L)
    val planted = Seq(1L -> 1000001L, 2L -> 1000002L)
    expect("dedup: planted pairs clustered pass",
      Checks.plantedClustered(clusters, planted).isEmpty)
    expect("dedup: a split pair fails",
      Checks.plantedClustered(clusters.updated(1000002L, 1000002L), planted)
        .nonEmpty)
    expect("dedup: an unclustered pair fails",
      Checks.plantedClustered(clusters - 2L - 1000002L, planted).nonEmpty)

    // recall floor
    expect("recall: at the floor passes",
      Checks.recall(Seq(1.0, 0.8), 2, 0.9).isEmpty)
    expect("recall: below the floor fails",
      Checks.recall(Seq(1.0, 0.6), 2, 0.9).nonEmpty)
    expect("recall: a missing query fails",
      Checks.recall(Seq(1.0), 2, 0.9).nonEmpty)

    // k rows per query
    expect("top-k: k rows per query passes",
      Checks.kPerQuery(Seq(1L, 1L, 2L, 2L), Set(1L, 2L), 2).isEmpty)
    expect("top-k: a short query fails",
      Checks.kPerQuery(Seq(1L, 1L, 2L), Set(1L, 2L), 2).nonEmpty)
    expect("top-k: an unknown query fails",
      Checks.kPerQuery(Seq(1L, 1L, 2L, 2L, 3L, 3L), Set(1L, 2L), 2).nonEmpty)

    // silver table
    val cols = Seq("station", "avg_wind_speed", "avg_temperature_rounded")
    val silver = Seq(Seq("A", "3.5", "10.0"), Seq("M", "0.0", "11.5"),
      Seq("M", "2.5", "9.0"))
    def silverCheck(rs: Seq[Seq[Any]]) = Checks.silver(cols, rs, 3,
      Seq("avg_wind_speed", "avg_temperature_rounded"), "M", 1)
    expect("silver: correct table passes", silverCheck(silver).isEmpty)
    expect("silver: one imputed value nulled fails",
      silverCheck(silver.updated(0, Seq("A", "3.5", null))).nonEmpty)
    expect("silver: missing station's wind not zero-imputed fails",
      silverCheck(silver.updated(1, Seq("M", "1.0", "11.5"))).nonEmpty)
    expect("silver: a dropped row fails", silverCheck(silver.tail).nonEmpty)

    // digests ignore row order and float association noise only
    val rows = Seq(Seq(1L, 0.1 + 0.2), Seq(2L, 0.5))
    expect("digest: order-independent",
      Checks.digest(rows) == Checks.digest(rows.reverse))
    expect("digest: float association noise ignored",
      Checks.digest(Seq(Seq(1L, 0.3), Seq(2L, 0.5))) == Checks.digest(rows))
    expect("digest: a changed value changes it",
      Checks.digest(Seq(Seq(1L, 0.31), Seq(2L, 0.5))) != Checks.digest(rows))

    // later passes: same digest as the fully checked pass
    val out = new Check("d1", Seq("wrong"))
    expect("verify: full check reports the checker's problems",
      Runner.verify("a", out, Runner.FullCheck) == ("d1", Seq("wrong")))
    expect("verify: an equal digest passes",
      Runner.verify("a", out, Runner.SameDigests(Map("a" -> "d1")))._2.isEmpty)
    expect("verify: a changed digest fails",
      Runner.verify("a", out, Runner.SameDigests(Map("a" -> "d0")))._2.nonEmpty)
    expect("verify: warm-up passes are not checked",
      Runner.verify("a", out, Runner.Unchecked)._2.isEmpty)

    // listener interval union
    expect("interval union",
      OpListener.unionLength(Seq((0L, 10L), (5L, 12L), (20L, 25L), (21L, 22L))) == 17L)

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
