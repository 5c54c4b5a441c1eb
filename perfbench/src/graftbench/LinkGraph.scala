package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.{Bfs, PageRank, Scc}

/** A generated link digraph: one giant strongly connected component (a ring
  * with random chords, so its diameter is logarithmic), hub nodes with heavy
  * in- and out-degree (seeded), DAG chains hanging into and out of the giant
  * component, small cycles that are their own components, and dead ends.
  * One pass runs strongly connected components, multi-source BFS from the
  * hubs and PageRank and writes the per-node results. BSP fixpoint rounds
  * dominate. The shape is fixed so every seed takes the same number of
  * rounds; seeds vary the wiring, the hub degree and the node ids. */
object LinkGraph extends Workload {
  val name = "link_graph"
  val Giant = 1200
  val Chords = 5
  val TailNodes = 400
  val Cycles = 20
  val Hubs = 3
  val ChainDepth = 3
  val Rounds = 3

  private val nodeSchema = StructType(Seq(StructField("node", LongType, nullable = false)))
  private val edgeSchema = StructType(Seq(
    StructField("src", LongType, nullable = false), StructField("dst", LongType, nullable = false)))

  def prepare(spark: SparkSession, seed: Long, dir: String): Instance = {
    val r = Util.rng(seed)
    val hubDegree = 50 + r.nextInt(21)
    val edges = mutable.LinkedHashSet.empty[(Int, Int)]
    var n = 0
    def node(): Int = { n += 1; n - 1 }
    val giant = Array.fill(Giant)(node())
    giant.indices.foreach { i =>
      edges += ((giant(i), giant((i + 1) % Giant)))
      (0 until Chords).foreach(_ => edges += ((giant(i), giant(r.nextInt(Giant)))))
    }
    giant.take(Hubs).foreach { h =>
      (0 until hubDegree).foreach { _ =>
        edges += ((h, giant(r.nextInt(Giant))))
        edges += ((giant(r.nextInt(Giant)), h))
      }
    }
    (0 until TailNodes / ChainDepth).foreach { c =>
      val chain = Array.fill(ChainDepth)(node())
      chain.sliding(2).foreach { case Array(a, b) => edges += ((a, b)) }
      if (c % 2 == 0) edges += ((giant(r.nextInt(Giant)), chain.head)) // out-tail to a dead end
      else edges += ((chain.last, giant(r.nextInt(Giant)))) // in-tail from a source
    }
    (0 until Cycles).foreach { _ =>
      val cyc = Array.fill(2 + r.nextInt(3))(node())
      cyc.indices.foreach(i => edges += ((cyc(i), cyc((i + 1) % cyc.length))))
      edges += ((giant(r.nextInt(Giant)), cyc.head))
    }
    edges --= edges.filter { case (a, b) => a == b }.toSeq
    // sparse, shuffled ids: labels carry no hint of the structure
    val ids = r.shuffle((0 until n).map(i => 1L + 13L * i + r.nextInt(13))).toArray
    val edgeList = edges.toArray.map { case (a, b) => (ids(a), ids(b)) }
    val sources = giant.take(Hubs).toSeq.map(i => ids(i))
    val nodesIn = s"$dir/nodes"
    val edgesIn = s"$dir/edges"
    Util.frame(spark, ids.toSeq.map(Row(_)), nodeSchema, 4).write.mode("overwrite").parquet(nodesIn)
    Util.frame(spark, edgeList.toSeq.map { case (a, b) => Row(a, b) }, edgeSchema, 4)
      .write.mode("overwrite").parquet(edgesIn)
    new Inst(spark, dir, nodesIn, edgesIn, ids, edgeList, sources, hubDegree)
  }

  final class Inst(spark: SparkSession, dir: String, nodesIn: String, edgesIn: String,
      ids: Array[Long], edgeList: Array[(Long, Long)], sources: Seq[Long], hubDegree: Int)
      extends Instance {
    private val nodeOut = s"$dir/node_results"
    private val distOut = s"$dir/distances"

    def inputSizes: Seq[(String, Long)] = Seq(
      "nodes" -> ids.length.toLong, "edges" -> edgeList.length.toLong,
      "chain_depth" -> ChainDepth.toLong, "hub_degree" -> hubDegree.toLong,
      "bfs_sources" -> sources.size.toLong, "pagerank_rounds" -> Rounds.toLong)
    def recordsPerPass: Long = edgeList.length.toLong

    def pass(t: Tracer): Unit = {
      val nodes = spark.read.parquet(nodesIn)
      val edges = spark.read.parquet(edgesIn)
      val scc = t.lazyLayer("operators.scc")(Scc.components(nodes, edges))
      val dist = t.lazyLayer("operators.bfs")(Bfs.distancesMulti(nodes, edges, sources))
      val pr = t.lazyLayer("operators.pagerank")(PageRank.ranks(nodes, edges, Rounds))
      t.span("sinks.write") {
        scc.join(pr, "node").write.mode("overwrite").parquet(nodeOut)
        dist.write.mode("overwrite").parquet(distOut)
      }
    }

    private lazy val adj: Map[Long, Array[Long]] =
      edgeList.groupBy(_._1).map { case (k, es) => k -> es.map(_._2) }

    /** Iterative Tarjan: node -> min member of its strongly connected component. */
    private lazy val tarjan: Map[Long, Long] = {
      val index = mutable.Map.empty[Long, Int]
      val low = mutable.Map.empty[Long, Int]
      val onStack = mutable.Set.empty[Long]
      val stack = mutable.Stack.empty[Long]
      val out = mutable.Map.empty[Long, Long]
      var next = 0
      ids.foreach { root =>
        if (!index.contains(root)) {
          val work = mutable.Stack((root, 0))
          while (work.nonEmpty) {
            val (v, i) = work.pop()
            if (i == 0) {
              index(v) = next; low(v) = next; next += 1
              stack.push(v); onStack += v
            }
            val succ = adj.getOrElse(v, Array.empty[Long])
            if (i < succ.length) {
              work.push((v, i + 1))
              val w = succ(i)
              if (!index.contains(w)) work.push((w, 0))
              else if (onStack(w)) low(v) = math.min(low(v), index(w))
            } else {
              if (low(v) == index(v)) {
                val comp = mutable.ArrayBuffer.empty[Long]
                var w = -1L
                while (w != v) { w = stack.pop(); onStack -= w; comp += w }
                val m = comp.min
                comp.foreach(c => out(c) = m)
              }
              if (work.nonEmpty) {
                val (p, _) = work.top
                low(p) = math.min(low(p), low(v))
              }
            }
          }
        }
      }
      out.toMap
    }

    private lazy val bfs: Map[(Long, Long), Long] = sources.flatMap { s =>
      val d = mutable.Map(s -> 0L)
      val q = mutable.Queue(s)
      while (q.nonEmpty) {
        val u = q.dequeue()
        adj.getOrElse(u, Array.empty[Long]).foreach { v =>
          if (!d.contains(v)) { d(v) = d(u) + 1; q.enqueue(v) }
        }
      }
      d.map { case (v, k) => (s, v) -> k }
    }.toMap

    private lazy val pagerank: Map[Long, Long] = {
      val deg = edgeList.groupBy(_._1).map { case (k, es) => k -> es.length.toLong }
      var pr = ids.map(_ -> PageRank.Scale).toMap
      (1 to Rounds).foreach { _ =>
        val cin = mutable.Map.empty[Long, Long].withDefaultValue(0L)
        edgeList.foreach { case (a, b) => cin(b) += (pr(a) * 17) / (20 * deg(a)) }
        pr = ids.map(v => v -> (PageRank.Teleport + cin(v))).toMap
      }
      pr
    }

    def check(): Seq[String] = {
      val errs = mutable.ArrayBuffer.empty[String]
      val got = spark.read.parquet(nodeOut).select("node", "scc_id", "pr").collect()
      if (got.length != ids.length) errs += s"node results hold ${got.length} of ${ids.length} nodes"
      val badScc = got.count(r => !tarjan.get(r.getLong(0)).contains(r.getLong(1)))
      if (badScc > 0) errs += s"$badScc nodes' SCC differs from Tarjan"
      val badPr = got.count(r => !pagerank.get(r.getLong(0)).contains(r.getLong(2)))
      if (badPr > 0) errs += s"$badPr nodes' PageRank differs from the sequential iteration"
      val d = spark.read.parquet(distOut).select("s", "node", "dist").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      if (d != bfs) errs += s"BFS distances differ from sequential BFS (${d.size} vs ${bfs.size} pairs)"
      errs.toSeq
    }

    def storedBytes: Long = Util.dirBytes(nodeOut) + Util.dirBytes(distOut)

    override def layerFigures: Map[String, Double] =
      Map("sinks.files_written" -> (Util.dataFiles(nodeOut) + Util.dataFiles(distOut)).toDouble)
  }
}
