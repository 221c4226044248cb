package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** One ungapped 1:1 alignment block in explicit-orientation form:
  * `[ss, se)` on `src` maps onto `[ds, de)` on `dst`, reversed when
  * `ori < 0`. Field order matches `graft.align.AlignBlock`. */
final case class Block(src_id: String, src_start: Long, src_end: Long,
                       dest_id: String, dest_start: Long, dest_end: Long,
                       dest_ori: Int, block_id: Long)

/** Field order matches `graft.align.QueryIval`. */
final case class Query(q_id: Long, src_id: String, q_start: Long, q_end: Long)

final case class Point(point_id: Long, src_id: String, pos: Long)

final case class Edge(src: Long, dst: Long)

/** Seeded input generators. Every generator is a pure function of its
  * seed arguments, so a seed names one input set exactly. Sizes are
  * constants here and documented in the README. */
object Inputs {

  def rng(parts: Long*): Random =
    new Random(parts.foldLeft(0x5DEECE66DL)((h, p) => h * 1000003L ^ p))

  // ---- interval: a genome-shaped alignment set ------------------------

  val Chroms = 3
  val ChromLen = 600000L
  val Species = Seq("mm", "rn")

  /** Dense ref-vs-other blocks walked along each reference chromosome
    * (block 40..400 bp, gap 10..300 bp), orientation flipping in runs,
    * plus a containment tail: 1 block in 100 spans 20..160 kb onto a
    * scaffold. Stored in both directions, like pygr's bidirectional
    * NLMSA build; a mirror row keeps its block's id. */
  def genome(seed: Long): Seq[Block] = {
    val r = rng(seed, 1)
    val fwd = ArrayBuffer.empty[Block]
    var id = 0L
    for (sp <- Species; c <- 1 to Chroms) {
      val ref = s"hg.chr$c"
      val other = s"$sp.chr$c"
      var pos = r.nextInt(300).toLong
      var dpos = r.nextInt(300).toLong
      var ori = 1
      var scaffold = 0
      while (pos < ChromLen - 1000) {
        if (r.nextInt(100) == 0) {
          val len = 20000L + r.nextInt(140000)
          val end = math.min(pos + len, ChromLen)
          fwd += Block(ref, pos, end, s"$sp.scaf$c.$scaffold", 0L, end - pos,
            if (r.nextBoolean()) 1 else -1, id)
          scaffold += 1
        } else {
          if (r.nextInt(25) == 0) ori = -ori
          val len = 40L + r.nextInt(360)
          val ds = if (ori > 0) dpos else math.max(0L, ChromLen - dpos - len)
          fwd += Block(ref, pos, pos + len, other, ds, ds + len, ori, id)
          dpos += len + 10 + r.nextInt(290)
          pos += len + 10 + r.nextInt(290)
        }
        id += 1
      }
    }
    (fwd ++ fwd.map(b => Block(b.dest_id, b.dest_start, b.dest_end,
      b.src_id, b.src_start, b.src_end, b.dest_ori, b.block_id))).toSeq
  }

  /** Query windows of 2..20 kb on reference or other-species
    * chromosomes; `qid0` keeps ids unique across batches. */
  def windows(r: Random, n: Int, qid0: Long, seqs: Seq[String]): Seq[Query] =
    (0 until n).map { i =>
      val len = 2000L + r.nextInt(18000)
      val start = (r.nextDouble() * (ChromLen - len)).toLong
      Query(qid0 + i, seqs(r.nextInt(seqs.size)), start, start + len)
    }

  val BatchSize = 16
  val HotBatches = 4
  val ColdBatches = 60

  val allChroms: Seq[String] =
    for (sp <- "hg" +: Species; c <- 1 to Chroms) yield s"$sp.chr$c"
  val otherChroms: Seq[String] =
    for (sp <- Species; c <- 1 to Chroms) yield s"$sp.chr$c"

  /** The query-batch pool: 4 hot batches repeat every 16 rounds, 60
    * cold batches cycle. 64 batches exceed the store's 32-entry span
    * memo, so on the binned slice path a hot batch would hit it and a
    * cold one miss; this store's default path is the indexed join,
    * which does not consult the memo. */
  def batchIndex(round: Int): Int =
    if (round % 4 == 0) (round / 4) % HotBatches
    else HotBatches + (round - round / 4 - 1) % ColdBatches

  def queryBatch(seed: Long, b: Int): Seq[Query] =
    windows(rng(seed, 2, b), BatchSize, b.toLong * 1000, allChroms)

  def twoHopBatch(seed: Long, b: Int): Seq[Query] =
    windows(rng(seed, 3, b), 8, b.toLong * 1000, otherChroms)

  def points(seed: Long, round: Int): Seq[Point] = {
    val r = rng(seed, 4, round)
    (0 until 400).map(i => Point(i.toLong, allChroms(r.nextInt(allChroms.size)),
      (r.nextDouble() * ChromLen).toLong))
  }

  /** A 100 kb coverage window on a reference chromosome. */
  def coverageWindow(seed: Long, round: Int): Query = {
    val r = rng(seed, 5, round)
    val s = (r.nextDouble() * (ChromLen - 100000)).toLong
    Query(round.toLong, s"hg.chr${1 + r.nextInt(Chroms)}", s, s + 100000)
  }

  /** A fresh 300-block batch for the write op, on its own sequences. */
  def freshBatch(seed: Long, round: Int): Seq[Block] = {
    val r = rng(seed, 6, round)
    (0 until 300).map { i =>
      val len = 50L + r.nextInt(2000)
      val s = (r.nextDouble() * 50000).toLong
      val ds = (r.nextDouble() * 50000).toLong
      Block(s"new.chr${i % 3}", s, s + len, s"new.tgt${r.nextInt(4)}", ds, ds + len,
        if (r.nextInt(3) == 0) -1 else 1, round.toLong * 1000 + i)
    }
  }

  def freshQueries(seed: Long, round: Int): Seq[Query] = {
    val r = rng(seed, 7, round)
    (0 until 6).map { i =>
      val s = (r.nextDouble() * 45000).toLong
      Query(i.toLong, s"new.chr${i % 3}", s, s + 1000 + r.nextInt(5000))
    }
  }

  // ---- motif: a bipartite source -> hub edge set with Zipf hubs -------

  val Sources = 600
  val Hubs = 300
  val HubBase = 1000000000L
  val TopDegree = 240
  val ZipfExponent = 1.1

  val PlantedPairs = 24

  /** Hub k (from 1) has degree max(1, 240 k^-1.1), drawn as distinct
    * uniform sources: the degree profile is the same for every seed, so
    * the Σd² pair mass is too, and the top three hubs exceed the chunk
    * size and take the hot-hub chunk path. Planted pairs of sources
    * (600 + 2p, 601 + 2p) have identical neighbourhoods of 4..12 hubs
    * drawn uniformly from the same hubs. */
  def bipartite(seed: Long): Seq[Edge] = {
    val r = rng(seed, 10)
    val zipf = (1 to Hubs).flatMap { k =>
      val d = math.max(1, (TopDegree * math.pow(k.toDouble, -ZipfExponent)).toInt)
      r.shuffle((0 until Sources).toVector).take(d).map(s => Edge(s.toLong, HubBase + k))
    }
    val planted = plantedPairs.flatMap { case (a, b) =>
      r.shuffle((1 to Hubs).toVector).take(4 + r.nextInt(9))
        .flatMap(k => Seq(Edge(a, HubBase + k), Edge(b, HubBase + k)))
    }
    zipf ++ planted
  }

  val plantedPairs: Seq[(Long, Long)] =
    (0 until PlantedPairs).map(p => (Sources + 2L * p, Sources + 2L * p + 1))

  def anchors(seed: Long, round: Int): Set[Long] = {
    val r = rng(seed, 12, round % 16)
    Iterator.continually(r.nextInt(Sources).toLong).distinct.take(12).toSet
  }

  // ---- fixpoint: sparse, high-diameter graph --------------------------

  val Components = 4
  val Ring = 12
  val TailLen = 2
  val Tails = 4

  /** Per component: a directed ring of 12 vertices, and at every third
    * ring vertex a directed tail of 2 vertices leading into it. The
    * undirected diameter is 10 (tail end to the opposite tail end), a
    * directed walk to a ring vertex is up to 13 hops, and the 2-core is
    * the ring, reached after peeling each tail one vertex per round. The
    * shape does not depend on the seed; vertex ids are a random
    * permutation, except that each component's smallest id goes to the
    * free end of its first tail, so propagating the minimum takes the
    * same number of supersteps for every seed. Returns the edges and
    * each component's ring vertices. */
  def chains(seed: Long): (Seq[Edge], Seq[Seq[Long]]) = {
    val r = rng(seed, 20)
    val size = Ring + Tails * TailLen
    val perm = r.shuffle((0 until Components * size).toVector).toArray
    // component c: ring base until base+Ring, then tail t's vertices in
    // order away from the ring, so base+Ring+TailLen-1 is the first
    // tail's free end
    val raw = (0 until Components).flatMap { c =>
      val base = c * size
      val free = base + Ring + TailLen - 1
      val m = (base until base + size).minBy(perm(_))
      val t = perm(free); perm(free) = perm(m); perm(m) = t
      val ring = (0 until Ring).map(i => (base + i, base + (i + 1) % Ring))
      val tails = (0 until Tails).flatMap { t =>
        val v0 = base + Ring + t * TailLen
        (0 until TailLen).map(i => (v0 + i, if (i == 0) base + t * Ring / Tails else v0 + i - 1))
      }
      ring ++ tails
    }
    (raw.map { case (a, b) => Edge(perm(a).toLong, perm(b).toLong) },
      (0 until Components).map(c => (0 until Ring).map(i => perm(c * size + i).toLong)))
  }

  /** One ring vertex per component, so each component's BFS walks most
    * of its ring. */
  def landmarks(seed: Long, round: Int, rings: Seq[Seq[Long]]): Seq[Long] = {
    val r = rng(seed, 21, round)
    rings.map(ring => ring(r.nextInt(ring.size)))
  }
}
