package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.align.AlignmentStore
import graft.catalog.{Catalog, Resource}
import graft.graph.{EdgeGraph, MotifEdge, MotifQuery}
import graft.operators.{Coverage, IntervalJoin}

object Workloads {
  val AllOpTypes: Seq[String] = Seq(
    "slice", "slice2hop", "slice2hop_merged", "point_overlap", "coverage", "persist_reload",
    "shared_neighbors", "shared_neighbors_sketch", "motif_chain",
    "components", "shortest_paths", "label_propagation", "kcore")

  /** Every per-layer metric with its unit, in report order. */
  val PerLayer: Seq[(String, String)] =
    AllOpTypes.flatMap(t => Seq(s"op.$t.p50_ms" -> "ms", s"op.$t.tail_ms" -> "ms",
      s"op.$t.rows" -> "count", s"op.$t.eager_jobs" -> "count")) ++ Seq(
      "core.session_ms" -> "ms", "align.build_ms" -> "ms", "align.eager_jobs" -> "count",
      "operators.build_ms" -> "ms", "catalog.register_ms" -> "ms", "catalog.resolve_ms" -> "ms",
      "graph.build_ms" -> "ms", "graph.eager_jobs" -> "count", "plan.ms_per_op" -> "ms",
      "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
      "spark.tasks_per_op" -> "count", "spark.job_gap_ms_per_op" -> "ms",
      "spark.task_wait_ms_per_op" -> "ms", "spark.task_cpu_ms_per_op" -> "ms",
      "spark.max_task_ms" -> "ms", "spark.shuffle_write_kb_per_op" -> "KiB",
      "spark.spill_kb_per_op" -> "KiB", "spark.gc_ms_per_op" -> "ms",
      "codegen.compiles_per_op" -> "count", "codegen.compile_ms_per_op" -> "ms",
      "jvm.jit_ms_per_op" -> "ms")

  /** Plans the frame, then runs it: two spans, so planning time shows
    * apart from execution. */
  def collect(tr: Tracer, df: DataFrame): Array[Row] = {
    tr.span("plan")(df.queryExecution.executedPlan)
    tr.span("execute")(df.collect())
  }

  /** Multiset equality of output rows against the oracle's rows. */
  def same[T](what: String, got: Seq[T], want: Seq[T]): Verdict = {
    def bag(xs: Seq[T]) = xs.groupBy(identity).map { case (k, v) => k -> v.size }
    if (bag(got) == bag(want)) Verdict(got.size, None)
    else Verdict(got.size, Some(s"$what: ${got.size} rows, ${want.size} expected; " +
      s"unexpected ${got.diff(want).take(3)}, missing ${want.diff(got).take(3)}"))
  }

  def deleteTree(p: Path): Unit =
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
}

import Workloads.{collect, same}

/** pygr's build-once, query-many use of an alignment store. */
final class IntervalWorkload(seed: Long) extends Workload {
  val opTypes = Seq("slice", "slice2hop", "slice2hop_merged", "point_overlap",
    "coverage", "persist_reload")
  val MinDepth = 2L

  private var spark: SparkSession = _
  private var dir: Path = _
  private var blocks: Seq[Block] = _
  private var bySrc: Map[String, Seq[Block]] = _
  private var store: AlignmentStore = _
  private var catalog: Catalog = _

  def build(s: SparkSession, d: Path, tr: Tracer): Unit = {
    spark = s; dir = d
    blocks = Inputs.genome(seed)
    bySrc = blocks.groupBy(_.src_id)
    val path = d.resolve("store").toString
    new AlignmentStore(spark.createDataFrame(blocks)).persist(path, buckets = 8)
    store = AlignmentStore.load(spark, path)
    catalog = new Catalog(spark, d.resolve("catalog").toString)
  }

  private def frame[T <: Product : scala.reflect.runtime.universe.TypeTag](xs: Seq[T]) =
    spark.createDataFrame(xs)

  private def hits(rows: Array[Row]) = rows.toSeq.map(r => Oracles.Hit(r.getLong(0),
    r.getString(1), r.getLong(2), r.getLong(3), r.getString(4), r.getLong(5), r.getLong(6),
    r.getInt(7), r.getLong(8)))

  def round(r: Int): Seq[Call] = {
    val b = Inputs.batchIndex(r)
    val qs = Inputs.queryBatch(seed, b)
    val q2 = Inputs.twoHopBatch(seed, b)
    val pts = Inputs.points(seed, r)
    val win = Inputs.coverageWindow(seed, r)
    val fresh = Inputs.freshBatch(seed, r)
    val fq = Inputs.freshQueries(seed, r)

    val wantSlice = qs.flatMap(q => Oracles.slice(bySrc(q.src_id), q))
    val want2 = q2.flatMap(q => Oracles.twoHop(bySrc(q.src_id), bySrc, q))
    val wantMerged = Oracles.merge(want2)
    val wantPts = pts.flatMap(p => Oracles.points(bySrc(p.src_id), Seq(p)))
    val inWin = bySrc(win.src_id).filter(x =>
      Oracles.overlaps(x.src_start, x.src_end, win.q_start, win.q_end))
    val wantCov = if (inWin.isEmpty) Nil else {
      val (d, c) = Oracles.coverage(inWin.map(x => (x.src_start, x.src_end)), MinDepth)
      Seq((win.src_id, d, c))
    }
    val wantFresh = fq.flatMap(q => Oracles.slice(fresh, q))

    Seq(
      Call("slice") { tr =>
        collect(tr, tr.span("align.build")(store.slice(frame(qs))))
      } { rows => same("slice", hits(rows), wantSlice) },
      Call("slice2hop") { tr =>
        collect(tr, tr.span("align.build")(store.slice2hop(frame(q2))))
      } { rows =>
        same("slice2hop", rows.toSeq.map(x => (x.getLong(0), x.getString(1), x.getLong(2),
          x.getLong(3), x.getString(4), x.getLong(5), x.getLong(6), x.getInt(7),
          x.getString(8), x.getLong(9), x.getLong(10))), want2)
      },
      Call("slice2hop_merged") { tr =>
        collect(tr, tr.span("align.build")(store.slice2hopMerged(frame(q2))))
      } { rows =>
        same("slice2hop_merged", rows.toSeq.map(x => (x.getLong(0), x.getString(1),
          x.getInt(2), x.getLong(3), x.getLong(4), x.getLong(5), x.getLong(6), x.getLong(7))),
          wantMerged)
      },
      Call("point_overlap") { tr =>
        collect(tr, tr.span("operators.build")(IntervalJoin.shuffledIndexJoin(
          store.blocks.select("src_id", "src_start", "src_end", "block_id"), frame(pts),
          "src_id", "src_start", "src_end", "pos").select("point_id", "block_id")))
      } { rows => same("point_overlap", rows.toSeq.map(x => (x.getLong(0), x.getLong(1))), wantPts) },
      Call("coverage") { tr =>
        collect(tr, tr.span("operators.build")(Coverage.stats(
          store.blocks.where(col("src_id") === win.src_id &&
            col("src_end") > win.q_start && col("src_start") < win.q_end),
          Seq("src_id"), "src_start", "src_end", MinDepth)))
      } { rows =>
        same("coverage", rows.toSeq.map(x => (x.getString(0), x.getLong(1), x.getLong(2))), wantCov)
      },
      // the write op: persist a fresh batch, register it, resolve it back
      // through the catalog, and slice what was loaded
      Call("persist_reload") { tr =>
        val path = dir.resolve(s"fresh/$r").toString
        val name = s"bench.fresh.${r % 8}"
        tr.span("align.persist")(new AlignmentStore(frame(fresh)).persist(path, buckets = 4))
        tr.span("catalog.register")(catalog.register(Resource(name, "alignment", "parquet", path)))
        val loaded = tr.span("catalog.resolve")(catalog.resolve(spark, name))
        collect(tr, tr.span("align.build")(new AlignmentStore(loaded).slice(frame(fq))))
      } { rows =>
        Workloads.deleteTree(dir.resolve(s"fresh/${r - 8}"))
        same("persist_reload", hits(rows), wantFresh)
      })
  }
}

/** Compute-dense pair expansion over a bipartite graph with Zipf hubs. */
final class MotifWorkload(seed: Long) extends Workload {
  val opTypes = Seq("shared_neighbors", "shared_neighbors_sketch", "motif_chain")
  val ChunkSize = 64
  val MinShared = 2L
  val Butterfly = Seq("s1" -> "h1", "s2" -> "h1", "s2" -> "h2", "s1" -> "h2")

  private var edges: Seq[Edge] = _
  private var df: DataFrame = _
  private lazy val degree = edges.groupBy(_.src).map { case (s, es) => s -> es.size.toLong }
  private lazy val wantShared =
    Oracles.sharedNeighbors(edges).toSeq.filter(_._2 >= MinShared)
      .map { case ((a, b), n) => (a, b, n) }

  def build(spark: SparkSession, d: Path, tr: Tracer): Unit = {
    edges = Inputs.bipartite(seed)
    val path = d.resolve("edges").toString
    spark.createDataFrame(edges).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
  }

  def round(r: Int): Seq[Call] = {
    val anchors = Inputs.anchors(seed, r)
    val wantMotif = Oracles.motif(edges, Butterfly, injective = true,
      allowed = Map("s1" -> anchors)).map(m => (m("s1"), m("h1"), m("s2"), m("h2")))
    (wantShared, degree)
    Seq(
      Call("shared_neighbors") { tr =>
        collect(tr, tr.span("graph.build")(MotifQuery.sharedNeighbors(df, chunkSize = ChunkSize))
          .where(col("n_shared") >= MinShared))
      } { rows =>
        same("shared_neighbors", rows.toSeq.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))),
          wantShared)
      },
      Call("shared_neighbors_sketch") { tr =>
        collect(tr, tr.span("graph.build")(MotifQuery.sharedNeighborsSketch(df)))
      } { rows => Verdict(rows.length, sketchMismatch(rows)) },
      Call("motif_chain") { tr =>
        collect(tr, tr.span("graph.build")(MotifQuery.find(Seq(
          MotifEdge("s1", "h1", df, Some(col("s1").isin(anchors.toSeq: _*))),
          MotifEdge("s2", "h1", df), MotifEdge("s2", "h2", df), MotifEdge("s1", "h2", df))))
          .select("s1", "h1", "s2", "h2"))
      } { rows =>
        same("motif_chain", rows.toSeq.map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
          x.getLong(3))), wantMotif)
      })
  }

  /** Planted identical neighbourhoods must come back with the exact
    * degree; every pair must be ordered and no estimate may exceed the
    * smaller degree. */
  private def sketchMismatch(rows: Array[Row]): Option[String] = {
    val got = rows.map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(3)).toMap
    Inputs.plantedPairs.collectFirst {
      case (a, b) if !got.get((a, b)).contains(degree(a)) =>
        s"sketch: planted pair ($a,$b) of degree ${degree(a)} reported as ${got.get((a, b))}"
    }.orElse(got.keys.collectFirst {
      case (a, b) if a >= b => s"sketch: unordered pair ($a,$b)"
    }).orElse {
      val over = got.collect { case ((a, b), n) if n > math.min(degree(a), degree(b)) =>
        s"($a,$b) estimate $n against degrees ${degree(a)}, ${degree(b)}" }
      over.headOption.map(o => s"sketch: ${over.size} estimates exceed the smaller degree, e.g. $o")
    }
  }
}

/** Latency-bound iteration over a sparse, high-diameter graph. */
final class FixpointWorkload(seed: Long) extends Workload {
  val opTypes = Seq("components", "shortest_paths", "label_propagation", "kcore")
  /** Every vertex that reaches a landmark does so within this many hops. */
  val MaxDist = Inputs.Ring + Inputs.TailLen
  val LpaRounds = 2
  val K = 2

  private var spark: SparkSession = _
  private var edges: Seq[Edge] = _
  private var rings: Seq[Seq[Long]] = _
  private var graph: EdgeGraph = _
  private lazy val wantCC = Oracles.components(edges).toSeq
  private lazy val wantLpa = Oracles.labelPropagation(edges, LpaRounds).toSeq
  private lazy val wantCore = Oracles.kCore(edges, K).toSeq

  def build(s: SparkSession, d: Path, tr: Tracer): Unit = {
    spark = s
    val (es, rs) = Inputs.chains(seed)
    edges = es; rings = rs
    val path = d.resolve("graph").toString
    spark.createDataFrame(edges).write.mode("overwrite").parquet(path)
    graph = new EdgeGraph(spark.read.parquet(path))
  }

  private def pairs(rows: Array[Row]) = rows.toSeq.map(x => (x.getLong(0), x.getLong(1)))

  def round(r: Int): Seq[Call] = {
    val lms = Inputs.landmarks(seed, r, rings)
    val wantDist = Oracles.distances(edges, lms, MaxDist).toSeq.map { case ((v, l), d) => (v, l, d) }
    (wantCC, wantLpa, wantCore)
    Seq(
      Call("components") { tr =>
        collect(tr, tr.span("graph.build")(graph.connectedComponents(spark)))
      } { rows => same("components", pairs(rows), wantCC) },
      Call("shortest_paths") { tr =>
        collect(tr, tr.span("graph.build")(graph.shortestPaths(spark, lms, maxDist = MaxDist)))
      } { rows =>
        same("shortest_paths", rows.toSeq.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))), wantDist)
      },
      Call("label_propagation") { tr =>
        collect(tr, tr.span("graph.build")(graph.labelPropagation(spark, LpaRounds)))
      } { rows => same("label_propagation", pairs(rows), wantLpa) },
      Call("kcore") { tr =>
        collect(tr, tr.span("graph.build")(graph.kCore(spark, K)))
      } { rows => same("kcore", pairs(rows), wantCore) })
  }
}
