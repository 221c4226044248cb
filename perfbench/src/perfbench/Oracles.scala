package perfbench

import scala.collection.mutable

/** Expected answers computed in plain Scala from the generated inputs,
  * written from pygr's semantics rather than from the engine's plans:
  * brute-force scans, nested loops, union-find, BFS, sequential
  * peeling. Nothing here touches Spark. */
object Oracles {

  /** A clipped slice hit, in `AlignmentStore.slice` column order. */
  final case class Hit(q_id: Long, src_id: String, src_start: Long, src_end: Long,
                       dest_id: String, dest_start: Long, dest_end: Long,
                       dest_ori: Int, block_id: Long)

  /** Half-open intervals overlap when each starts before the other ends. */
  def overlaps(s1: Long, e1: Long, s2: Long, e2: Long): Boolean = s1 < e2 && s2 < e1

  /** Maps `[x, y)` inside a block's source span onto its destination:
    * an offset from the block's start when forward, from its end when
    * reversed (pygr keeps reversed intervals as negated coordinates, so
    * both cases are the same translation there). */
  def project(b: Block, x: Long, y: Long): (Long, Long) =
    if (b.dest_ori >= 0) (b.dest_start + (x - b.src_start), b.dest_start + (y - b.src_start))
    else (b.dest_start + (b.src_end - y), b.dest_start + (b.src_end - x))

  /** Every block overlapping the window, clipped to it: brute force. */
  def slice(blocks: Seq[Block], q: Query): Seq[Hit] =
    blocks.iterator
      .filter(b => b.src_id == q.src_id && overlaps(b.src_start, b.src_end, q.q_start, q.q_end))
      .map { b =>
        val s = math.max(b.src_start, q.q_start)
        val e = math.min(b.src_end, q.q_end)
        val (ds, de) = project(b, s, e)
        Hit(q.q_id, q.src_id, s, e, b.dest_id, ds, de, b.dest_ori, b.block_id)
      }.toSeq

  /** Two-hop composition: slice the query, then slice each hit's image
    * on the shared axis, and carry the second clip back through the
    * first block. Self-matches (same sequence, same start) are dropped,
    * as pygr's `NLMSASlice` does. Rows are (q, src, s, e, dest, ds, de,
    * ori, axis, block1, block2). */
  type Row2 = (Long, String, Long, Long, String, Long, Long, Int, String, Long, Long)

  def twoHop(blocks: Seq[Block], bySrc: Map[String, Seq[Block]], q: Query): Seq[Row2] =
    for {
      h1 <- slice(blocks.filter(_.src_id == q.src_id), q)
      h2 <- slice(bySrc.getOrElse(h1.dest_id, Nil),
                  Query(q.q_id, h1.dest_id, h1.dest_start, h1.dest_end))
      // the axis interval [h2.src_start, h2.src_end) pulled back through
      // hit 1: inverting a projection is projecting the inverse block
      (xs, xe) = project(Block(h1.dest_id, h1.dest_start, h1.dest_end, h1.src_id,
                               h1.src_start, h1.src_end, h1.dest_ori, 0L),
                         h2.src_start, h2.src_end)
      if !(h2.dest_id == q.src_id && xs == h2.dest_start)
    } yield (q.q_id, q.src_id, xs, xe, h2.dest_id, h2.dest_start, h2.dest_end,
             h1.dest_ori * h2.dest_ori, h1.dest_id, h1.block_id, h2.block_id)

  /** pygr `mergeSeq` over two-hop rows: per (query, target, orientation)
    * bounds and count, as (q, dest, ori, s, e, ds, de, n). */
  def merge(rows: Seq[Row2]): Seq[(Long, String, Int, Long, Long, Long, Long, Long)] =
    rows.groupBy(r => (r._1, r._5, r._8)).toSeq.map { case ((q, d, o), rs) =>
      (q, d, o, rs.map(_._3).min, rs.map(_._4).max, rs.map(_._6).min,
       rs.map(_._7).max, rs.size.toLong)
    }

  /** (point, block) for every block containing the point. */
  def points(blocks: Seq[Block], ps: Seq[Point]): Seq[(Long, Long)] =
    for (p <- ps; b <- blocks
         if b.src_id == p.src_id && b.src_start <= p.pos && p.pos < b.src_end)
    yield (p.point_id, b.block_id)

  /** Sweep-line depth count over intervals: (max depth, length covered
    * by at least `minDepth` intervals). Ends at a position apply before
    * starts there, so touching intervals do not stack. */
  def coverage(ivals: Seq[(Long, Long)], minDepth: Long): (Long, Long) = {
    val events = ivals.flatMap { case (s, e) => Seq((s, 1L), (e, -1L)) }
      .sortBy { case (p, d) => (p, d) }
    var depth = 0L; var maxDepth = 0L; var covered = 0L; var last = 0L
    for ((p, d) <- events) {
      if (depth >= minDepth) covered += p - last
      depth += d; last = p
      maxDepth = math.max(maxDepth, depth)
    }
    (maxDepth, covered)
  }

  // ---- graph oracles ---------------------------------------------------

  /** n_shared per unordered source pair (s1 < s2), from neighbour sets. */
  def sharedNeighbors(edges: Seq[Edge]): Map[(Long, Long), Long] = {
    val nbrs = edges.groupBy(_.src).map { case (s, es) => s -> es.map(_.dst).toSet }
    val byHub = edges.groupBy(_.dst).map { case (h, es) => h -> es.map(_.src).distinct.sorted }
    val counts = mutable.HashMap.empty[(Long, Long), Long]
    for ((_, ss) <- byHub; i <- ss.indices; j <- i + 1 until ss.size)
      counts((ss(i), ss(j))) = counts.getOrElse((ss(i), ss(j)), 0L) + 1L
    // cross-check each count against the two neighbour sets
    counts.foreach { case ((a, b), n) =>
      require((nbrs(a) intersect nbrs(b)).size == n, s"shared count ($a,$b)")
    }
    counts.toMap
  }

  /** Subgraph matching by nested loops over the edge list, in motif edge
    * order; an edge whose ends are both bound is a membership test.
    * Returns one binding per match. */
  def motif(edges: Seq[Edge], spec: Seq[(String, String)], injective: Boolean,
            allowed: Map[String, Long => Boolean] = Map.empty): Seq[Map[String, Long]] = {
    val set = edges.map(e => (e.src, e.dst)).toSet
    val out = edges.groupBy(_.src).withDefaultValue(Nil)
    val in = edges.groupBy(_.dst).withDefaultValue(Nil)
    def ok(v: String, x: Long) = allowed.get(v).forall(_(x))
    def go(i: Int, bind: Map[String, Long]): Seq[Map[String, Long]] =
      if (i == spec.size) Seq(bind)
      else {
        val (f, t) = spec(i)
        (bind.get(f), bind.get(t)) match {
          case (Some(a), Some(b)) => if (set((a, b))) go(i + 1, bind) else Nil
          case (Some(a), None) =>
            out(a).filter(e => ok(t, e.dst)).flatMap(e => go(i + 1, bind + (t -> e.dst)))
          case (None, Some(b)) =>
            in(b).filter(e => ok(f, e.src)).flatMap(e => go(i + 1, bind + (f -> e.src)))
          case (None, None) =>
            edges.filter(e => ok(f, e.src) && ok(t, e.dst))
              .flatMap(e => go(i + 1, bind + (f -> e.src) + (t -> e.dst)))
        }
      }
    val all = go(0, Map.empty)
    if (injective) all.filter(b => b.values.toSet.size == b.size) else all
  }

  /** Undirected, de-duplicated adjacency (a self-loop is its own neighbour). */
  def undirected(edges: Seq[Edge]): Map[Long, Set[Long]] =
    edges.flatMap(e => Seq(e.src -> e.dst, e.dst -> e.src)).groupBy(_._1)
      .map { case (v, ps) => v -> ps.map(_._2).toSet }

  /** Union-find; each vertex maps to the smallest id of its component. */
  def components(edges: Seq[Edge]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for (e <- edges) {
      val a = find(e.src); val b = find(e.dst)
      if (a != b) { parent(math.max(a, b)) = math.min(a, b) }
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** Hop distance from each vertex to each landmark along edge
    * direction (BFS over reversed edges), capped at `maxDist`. */
  def distances(edges: Seq[Edge], landmarks: Seq[Long], maxDist: Int): Map[(Long, Long), Long] = {
    val into = edges.groupBy(_.dst).map { case (v, es) => v -> es.map(_.src) }
    val vertices = edges.flatMap(e => Seq(e.src, e.dst)).toSet
    landmarks.filter(vertices).flatMap { l =>
      val dist = mutable.LinkedHashMap(l -> 0L)
      var frontier = Seq(l)
      var d = 0L
      while (frontier.nonEmpty && d < maxDist) {
        d += 1
        frontier = frontier.flatMap(v => into.getOrElse(v, Nil)).distinct.filterNot(dist.contains)
        frontier.foreach(v => dist(v) = d)
      }
      dist.map { case (v, dv) => (v, l) -> dv }
    }.toMap
  }

  /** k-core by sequential queue peeling: (vertex, degree inside core). */
  def kCore(edges: Seq[Edge], k: Int): Map[Long, Long] = {
    val adj = mutable.HashMap.empty[Long, mutable.Set[Long]]
    undirected(edges).foreach { case (v, ns) => adj(v) = mutable.Set.from(ns) }
    val queue = mutable.Queue.from(adj.keys.filter(v => adj(v).size < k))
    while (queue.nonEmpty) {
      val v = queue.dequeue()
      adj.remove(v).foreach(_.foreach { u =>
        adj.get(u).foreach { s =>
          if (s.remove(v) && s.size == k - 1) queue.enqueue(u)
        }
      })
    }
    adj.map { case (v, ns) => v -> ns.size.toLong }.toMap
  }

  /** Synchronous label propagation: each round every vertex takes the
    * most frequent label among its neighbours, ties to the smallest. */
  def labelPropagation(edges: Seq[Edge], rounds: Int): Map[Long, Long] = {
    val adj = undirected(edges)
    var label = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      label = adj.map { case (v, ns) =>
        val counts = ns.toSeq.map(label).groupBy(identity).map { case (l, ls) => l -> ls.size }
        v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    label
  }
}
