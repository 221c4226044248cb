package perfbench

/** Checks the oracles against pygr's goldens (FIXTURES.md §2 and §4)
  * and against small cases worked by hand from the definitions, and
  * checks that the output comparison rejects wrong rows. Runs in plain
  * Scala at the start of every run; any failure makes the run
  * incorrect. */
object SelfTest {

  def run(): Seq[String] = {
    val failures = Seq.newBuilder[String]
    def expect[T](what: String, got: T, want: T): Unit =
      if (got != want) failures += s"$what: got $got, want $want"

    // §2: NCList intervals in pygr's sign encoding, where a negative
    // interval is the reverse strand: (start, end, target, tstart, tend)
    val signed = Seq((0L, 10L, 1, -110L, -100L), (-20L, -5L, 2, 300L, 315L))
    val blocks = signed.zipWithIndex.map { case ((s, e, t, ts, te), i) =>
      val (fs, fe, fts, fte) = if (s < 0) (-e, -s, -te, -ts) else (s, e, ts, te)
      if (fts < 0) Block("a", fs, fe, s"t$t", -fte, -fts, -1, i.toLong)
      else Block("a", fs, fe, s"t$t", fts, fte, 1, i.toLong)
    }
    // a forward block seen from a window in the window's own orientation
    def signedView(b: Block, reverse: Boolean): (Long, Long, Int, Long, Long) = {
      val t = b.dest_id.drop(1).toInt
      val (ts, te) = if (b.dest_ori > 0) (b.dest_start, b.dest_end) else (-b.dest_end, -b.dest_start)
      if (reverse) (-b.src_end, -b.src_start, t, -te, -ts) else (b.src_start, b.src_end, t, ts, te)
    }
    def findOverlap(qs: Long, qe: Long) = {
      val reverse = qs < 0
      val q = if (reverse) Query(0, "a", -qe, -qs) else Query(0, "a", qs, qe)
      val hits = Oracles.slice(blocks, q)
      // pygr's clip of a signed interval is one translation; the oracle's
      // clipped hit must agree with it
      for (h <- hits) {
        val (s, e, t, ts, te) = signedView(blocks(h.block_id.toInt), reverse)
        val (cs, ce) = (math.max(s, qs), math.min(e, qe))
        val clipped = signedView(Block("a", h.src_start, h.src_end, h.dest_id,
          h.dest_start, h.dest_end, h.dest_ori, h.block_id), reverse)
        expect(s"find_overlap($qs,$qe) clip of block ${h.block_id}", clipped,
          (cs, ce, t, ts + (cs - s), te - (e - ce)))
      }
      hits.map(h => signedView(blocks(h.block_id.toInt), reverse)).toSet
    }
    expect("find_overlap(0,10)", findOverlap(0, 10),
      Set((0L, 10L, 1, -110L, -100L), (5L, 20L, 2, -315L, -300L)))
    expect("find_overlap(-11,-7)", findOverlap(-11, -7),
      Set((-10L, 0L, 1, 100L, 110L), (-20L, -5L, 2, 300L, 315L)))

    // two hops through a shared axis, worked by hand: human [0,10) maps
    // onto lpo [100,110); mouse and (reversed) chicken hang off lpo
    val axis = Seq(
      Block("human", 0, 10, "lpo", 100, 110, 1, 0), Block("mouse", 50, 58, "lpo", 102, 110, 1, 1),
      Block("chicken", 7, 12, "lpo", 104, 109, -1, 2))
    val both = axis ++ axis.map(b => Block(b.dest_id, b.dest_start, b.dest_end, b.src_id,
      b.src_start, b.src_end, b.dest_ori, b.block_id))
    val hop = Oracles.twoHop(both, both.groupBy(_.src_id), Query(7, "human", 0, 10))
    expect("two-hop", hop.map(r => (r._3, r._4, r._5, r._6, r._7, r._8)).toSet,
      Set((2L, 10L, "mouse", 50L, 58L, 1), (4L, 9L, "chicken", 7L, 12L, -1)))
    expect("mergeSeq", Oracles.merge(hop ++ hop.take(1)).map(m => (m._2, m._8)).toSet,
      Set(("mouse", 2L), ("chicken", 1L)))

    expect("points", Oracles.points(axis, Seq(Point(1, "mouse", 57), Point(2, "mouse", 58))),
      Seq((1L, 1L)))
    expect("sweep", Oracles.coverage(Seq((0L, 10L), (5L, 20L), (10L, 15L)), 2), (2L, 10L))
    expect("sweep touching", Oracles.coverage(Seq((0L, 5L), (5L, 10L)), 2), (1L, 0L))

    // §4: the data graph {0:{1,2,3}, 1:{2}, 3:{4,5}, 4:{6}, 5:{6}}
    val g = Seq(0 -> 1, 0 -> 2, 0 -> 3, 1 -> 2, 3 -> 4, 3 -> 5, 4 -> 6, 5 -> 6)
      .map { case (a, b) => Edge(a.toLong, b.toLong) }
    // graph_test.py:88-100, the basic query and its enumerated solutions
    expect("motif golden",
      Oracles.motif(g, Seq("q0" -> "q1", "q0" -> "q2", "q0" -> "q3", "q3" -> "q4"), injective = true)
        .map(m => Seq("q0", "q1", "q2", "q3", "q4").map(m)).toSet,
      Set(Seq(0L, 1L, 2L, 3L, 4L), Seq(0L, 1L, 2L, 3L, 5L), Seq(0L, 2L, 1L, 3L, 4L),
          Seq(0L, 2L, 1L, 3L, 5L)))
    expect("closure edge", Oracles.motif(g, Seq("a" -> "b", "b" -> "c", "a" -> "c"),
      injective = true).map(m => (m("a"), m("b"), m("c"))).toSet, Set((0L, 1L, 2L)))
    expect("shared neighbours", Oracles.sharedNeighbors(g), Map((0L, 1L) -> 1L, (4L, 5L) -> 1L))
    expect("components", Oracles.components(g), (0L to 6L).map(_ -> 0L).toMap)
    expect("distances", Oracles.distances(g, Seq(6L), 10),
      Map((6L, 6L) -> 0L, (4L, 6L) -> 1L, (5L, 6L) -> 1L, (3L, 6L) -> 2L, (0L, 6L) -> 3L))
    expect("distances capped", Oracles.distances(g, Seq(6L), 2).keySet.map(_._1), Set(6L, 4L, 5L, 3L))
    expect("2-core", Oracles.kCore(g, 2),
      Map(0L -> 3L, 1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 2L, 5L -> 2L, 6L -> 2L))
    expect("3-core", Oracles.kCore(g, 3), Map.empty[Long, Long])
    expect("label propagation", Oracles.labelPropagation(g, 2),
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 0L, 5L -> 0L, 6L -> 3L))

    // the comparison must reject a dropped, duplicated or altered row
    val rows = Seq((1L, 2L), (3L, 4L))
    for (wrong <- Seq(rows.take(1), rows :+ rows.head, Seq((1L, 2L), (3L, 5L))))
      if (Workloads.same("mutant", wrong, rows).mismatch.isEmpty)
        failures += s"comparison accepted $wrong for $rows"
    failures.result()
  }
}
