package perfbench

import java.util.Arrays

/**
 * Single-threaded array implementations of the benchmarked algorithms. They
 * check the engine's output and give each algorithm its COST floor (the
 * wall of one thread on plain arrays, McSherry et al., HotOS 2015).
 *
 * Node ids are sorted ascending before they are indexed, so comparing dense
 * indices orders nodes exactly as comparing their ids does.
 */
final class RefGraph private (
    val ids: Array[Long],
    val outOff: Array[Int],
    val outNbr: Array[Int],
    val undOff: Array[Int],
    val undNbr: Array[Int]) {

  def n: Int = ids.length
  def edges: Int = outNbr.length
  def outDeg(v: Int): Int = outOff(v + 1) - outOff(v)

  /** Dense index of a node id; -1 when absent. */
  def index(id: Long): Int = {
    val i = Arrays.binarySearch(ids, id)
    if (i >= 0) i else -1
  }
}

object RefGraph {

  /** Distinct directed edges over the endpoints of `src(i) → dst(i)`. Multi-
    * edges collapse; the undirected neighbour lists keep a self-loop once. */
  def apply(src: Array[Long], dst: Array[Long]): RefGraph = {
    require(src.length == dst.length)
    val all = new Array[Long](src.length * 2)
    System.arraycopy(src, 0, all, 0, src.length)
    System.arraycopy(dst, 0, all, src.length, dst.length)
    val ids = sortedDistinct(all)
    def ix(id: Long) = Arrays.binarySearch(ids, id)
    val directed = sortedDistinct(Array.tabulate(src.length)(i => pack(ix(src(i)), ix(dst(i)))))
    val both = new Array[Long](directed.length * 2)
    var i = 0
    while (i < directed.length) {
      val (a, b) = (hi(directed(i)), lo(directed(i)))
      both(2 * i) = pack(a, b)
      both(2 * i + 1) = pack(b, a)
      i += 1
    }
    val (outOff, outNbr) = csr(ids.length, directed)
    val (undOff, undNbr) = csr(ids.length, sortedDistinct(both))
    new RefGraph(ids, outOff, outNbr, undOff, undNbr)
  }

  private[perfbench] def pack(a: Int, b: Int): Long = (a.toLong << 32) | (b.toLong & 0xFFFFFFFFL)
  private[perfbench] def hi(p: Long): Int = (p >>> 32).toInt
  private[perfbench] def lo(p: Long): Int = p.toInt

  private[perfbench] def sortedDistinct(xs: Array[Long]): Array[Long] = {
    val s = xs.clone()
    Arrays.sort(s)
    var w = 0
    var i = 0
    while (i < s.length) {
      if (w == 0 || s(w - 1) != s(i)) { s(w) = s(i); w += 1 }
      i += 1
    }
    Arrays.copyOf(s, w)
  }

  /** CSR over packed (row, col) pairs already sorted by row then col. */
  private def csr(n: Int, sortedPairs: Array[Long]): (Array[Int], Array[Int]) = {
    val off = new Array[Int](n + 1)
    sortedPairs.foreach(p => off(hi(p) + 1) += 1)
    var v = 0
    while (v < n) { off(v + 1) += off(v); v += 1 }
    (off, sortedPairs.map(lo))
  }
}

object Reference {

  /** PageRank with the engine's semantics: n = |V|, distinct out-degree,
    * teleport (1-d)/n, sink mass of the previous step spread over all
    * nodes, and (when tol > 0) a stop once the L1 or L2 norm of the change
    * is at most tol·n. Returns scores by dense index and the steps run. */
  def pageRank(
      g: RefGraph,
      maxIter: Int,
      tol: Double = 0.0,
      damping: Double = 0.85,
      useL2Norm: Boolean = true): (Array[Double], Int) = {
    val n = g.n
    val teleport = (1.0 - damping) / n
    var score = Array.fill(n)(1.0 / n)
    var step = 0
    var converged = false
    while (!converged && step < maxIter) {
      step += 1
      var sink = 0.0
      var u = 0
      while (u < n) { if (g.outDeg(u) == 0) sink += score(u); u += 1 }
      val next = Array.fill(n)(teleport + damping / n * sink)
      u = 0
      while (u < n) {
        val d = g.outDeg(u)
        if (d > 0) {
          val w = damping * score(u) / d
          var k = g.outOff(u)
          while (k < g.outOff(u + 1)) { next(g.outNbr(k)) += w; k += 1 }
        }
        u += 1
      }
      if (tol > 0.0) {
        var acc = 0.0
        var v = 0
        while (v < n) {
          val diff = math.abs(next(v) - score(v))
          acc += (if (useL2Norm) diff * diff else diff)
          v += 1
        }
        converged = (if (useL2Norm) math.sqrt(acc) else acc) <= tol * n
      }
      score = next
    }
    (score, step)
  }

  /** Synchronous label propagation: a node's new label is the (votes,
    * label) maximum over its distinct undirected neighbours' previous
    * labels plus its own previous label; stops after a step with no change
    * or at the cap. Returns labels by dense index, steps run and the
    * number of changed labels per step. */
  def labelPropagation(g: RefGraph, maxIter: Int): (Array[Long], Int, Seq[Long]) = {
    val n = g.n
    var label = g.ids.clone()
    var maxDeg = 0
    var v = 0
    while (v < n) { maxDeg = math.max(maxDeg, g.undOff(v + 1) - g.undOff(v)); v += 1 }
    val buf = new Array[Long](maxDeg + 1)
    var step = 0
    var changes = -1L
    val perStep = Seq.newBuilder[Long]
    while (changes != 0 && step < maxIter) {
      step += 1
      val next = new Array[Long](n)
      changes = 0
      v = 0
      while (v < n) {
        var m = 0
        var k = g.undOff(v)
        while (k < g.undOff(v + 1)) { buf(m) = label(g.undNbr(k)); m += 1; k += 1 }
        buf(m) = label(v)
        m += 1
        Arrays.sort(buf, 0, m)
        var best = buf(0)
        var bestVotes = 0
        var i = 0
        while (i < m) {
          var j = i
          while (j < m && buf(j) == buf(i)) j += 1
          if (j - i >= bestVotes) { bestVotes = j - i; best = buf(i) }
          i = j
        }
        next(v) = best
        if (best != label(v)) changes += 1
        v += 1
      }
      perStep += changes
      label = next
    }
    (label, step, perStep.result())
  }

  /** Union–find components; every node is labelled with its component's
    * minimum id. */
  def components(g: RefGraph): Array[Long] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    var u = 0
    while (u < g.n) {
      var k = g.outOff(u)
      while (k < g.outOff(u + 1)) {
        val (a, b) = (find(u), find(g.outNbr(k)))
        if (a < b) parent(b) = a else if (b < a) parent(a) = b
        k += 1
      }
      u += 1
    }
    Array.tabulate(g.n)(v => g.ids(find(v)))
  }

  /** Replays the engine's alternating large-star / small-star contraction
    * on exact edge sets. Returns the rounds it runs (the round in which the
    * edge set first repeats, or the cap) and the labels it reads off the
    * final edge set: each node's smallest star neighbour, else itself. At
    * convergence these equal [[components]]; at the cap they are what the
    * engine returns after that many rounds. */
  def starContraction(g: RefGraph, maxIter: Int): (Int, Array[Long]) = {
    import RefGraph.{hi, lo, pack, sortedDistinct}
    val n = g.n
    val canon = Array.newBuilder[Long]
    var u = 0
    while (u < n) {
      var k = g.outOff(u)
      while (k < g.outOff(u + 1)) {
        val v = g.outNbr(k)
        if (u != v) canon += pack(math.min(u, v), math.max(u, v))
        k += 1
      }
      u += 1
    }
    var state = sortedDistinct(canon.result())
    val minNbr = new Array[Int](n)
    var step = 0
    var done = false
    while (!done && step < maxIter) {
      step += 1
      // large star: every neighbour above a center re-points at the
      // center's minimum (itself included)
      Arrays.fill(minNbr, Int.MaxValue)
      state.foreach { p =>
        val (a, b) = (hi(p), lo(p))
        minNbr(a) = math.min(minNbr(a), b)
        minNbr(b) = math.min(minNbr(b), a)
      }
      val large = Array.newBuilder[Long]
      state.foreach { p =>
        val (a, b) = (hi(p), lo(p))
        if (b > a) large += pack(b, math.min(a, minNbr(a)))
        if (a > b) large += pack(a, math.min(b, minNbr(b)))
      }
      // small star: orient high → low; the center and all its lower
      // neighbours re-point at its lowest neighbour
      val ls = large.result()
      Arrays.fill(minNbr, Int.MaxValue)
      ls.foreach { p =>
        val (c, m) = (math.max(hi(p), lo(p)), math.min(hi(p), lo(p)))
        if (c != m) minNbr(c) = math.min(minNbr(c), m)
      }
      val small = Array.newBuilder[Long]
      ls.foreach { p =>
        val (c, m) = (math.max(hi(p), lo(p)), math.min(hi(p), lo(p)))
        if (c != m) {
          val t = minNbr(c)
          if (m != t) small += pack(m, t)
          small += pack(c, t)
        }
      }
      val next = sortedDistinct(small.result())
      done = Arrays.equals(next, state) && step > 1
      state = next
    }
    val label = Array.tabulate(n)(identity)
    state.foreach { p =>
      val (c, m) = (math.max(hi(p), lo(p)), math.min(hi(p), lo(p)))
      label(c) = math.min(label(c), m)
    }
    (step, label.map(g.ids))
  }

  /** The edges a transcript table yields, as sorted (conv_id, src turn,
    * dst turn, layer): a "reply" edge from every turn to the next turn of
    * its conversation, and a "tool" edge from an assistant turn to the tool
    * turn right after it when both name the same tool. */
  def transcriptEdges(turns: Seq[(String, Int, String, Option[String])]): Seq[(String, Int, Int, String)] =
    turns.groupBy(_._1).toSeq.flatMap { case (conv, rows) =>
      val s = rows.sortBy(_._2)
      s.zip(s.drop(1)).flatMap { case (prev, cur) =>
        val reply = Seq((conv, prev._2, cur._2, "reply"))
        val tool =
          if (cur._3 == "tool" && prev._3 == "assistant" && cur._4.isDefined && prev._4 == cur._4)
            Seq((conv, prev._2, cur._2, "tool"))
          else Nil
        reply ++ tool
      }
    }.sorted

  /** Exact triangle count: orient each undirected edge from lower to higher
    * (degree, index) and sum the sorted-merge intersections of the
    * endpoints' forward lists. */
  def triangles(g: RefGraph): Long = {
    val n = g.n
    val deg = Array.tabulate(n) { v =>
      var d = 0
      var k = g.undOff(v)
      while (k < g.undOff(v + 1)) { if (g.undNbr(k) != v) d += 1; k += 1 }
      d
    }
    def before(a: Int, b: Int) = deg(a) < deg(b) || deg(a) == deg(b) && a < b
    val fwdOff = new Array[Int](n + 1)
    var v = 0
    while (v < n) {
      var k = g.undOff(v)
      var c = 0
      while (k < g.undOff(v + 1)) { if (before(v, g.undNbr(k))) c += 1; k += 1 }
      fwdOff(v + 1) = fwdOff(v) + c
      v += 1
    }
    val fwd = new Array[Int](fwdOff(n))
    v = 0
    while (v < n) {
      var w = fwdOff(v)
      var k = g.undOff(v)
      while (k < g.undOff(v + 1)) {
        if (before(v, g.undNbr(k))) { fwd(w) = g.undNbr(k); w += 1 }
        k += 1
      }
      v += 1
    }
    var total = 0L
    v = 0
    while (v < n) {
      var k = fwdOff(v)
      while (k < fwdOff(v + 1)) {
        val u = fwd(k)
        var i = fwdOff(v)
        var j = fwdOff(u)
        while (i < fwdOff(v + 1) && j < fwdOff(u + 1)) {
          if (fwd(i) < fwd(j)) i += 1
          else if (fwd(i) > fwd(j)) j += 1
          else { total += 1; i += 1; j += 1 }
        }
        k += 1
      }
      v += 1
    }
    total
  }
}
