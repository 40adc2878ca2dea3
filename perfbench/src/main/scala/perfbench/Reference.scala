package perfbench

import scala.collection.mutable

/** Expected answers, computed in plain Scala from the generated rows —
  * a path that shares no code with the engine or with Spark. Each method
  * returns the rows a correct engine result holds, in any order. */
object Reference {

  /** Added to a double before it is rounded for comparison. Ranks built
    * from small fractions land exactly on a half-way point (0.20315), where
    * a last-bit difference in summation order decides the rounding; the
    * nudge moves those points off the boundary on both sides alike. */
  val RoundingNudge = 1e-9

  private def round(x: Double, scale: Int): Double =
    BigDecimal(x + RoundingNudge).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** `graft.sources.TpchBridge.hashGraphEdges`: distinct canonical pairs. */
  def hashGraph(d: Data): Vector[(String, String)] =
    d.lineitems.flatMap { l =>
      val a = (l.order * 7919 + l.line) % 50000
      val b = (l.part * 104729 + l.supp) % 50000
      if (a == b) None else Some((math.min(a, b).toString, math.max(a, b).toString))
    }.distinct

  // ---- interactive reads -------------------------------------------------

  def read(d: Data, r: Read): Seq[Seq[Any]] = r.kind match {
    case "point" =>
      d.customers.filter(_.key == r.key).map(c => Seq(c.name, c.segment))
    case "hop1" =>
      d.orders.filter(_.cust == r.key).map(o => Seq("o" + o.key))
    case "hop2" =>
      val mine = d.orders.filter(_.cust == r.key).map(_.key).toSet
      d.lineitems.filter(l => mine(l.order)).map(l => Seq("o" + l.order, "p" + l.part))
    case "filter_limit" =>
      d.customers.filter(_.acctbal > r.threshold)
        .sortBy(c => (-c.acctbal, "c" + c.key)).take(10)
        .map(c => Seq("c" + c.key, c.acctbal))
    case "group_agg" =>
      d.customers.filter(_.segment == r.segment).groupBy(_.nation).toSeq
        .map { case (n, cs) => Seq(d.nationName(n), cs.length.toLong) }
    case "sparql_path" =>
      d.customers.filter(_.key == r.key).flatMap(c =>
        Seq(Seq("nation/" + d.nationName(c.nation)),
          Seq("region/" + d.regionName(d.regionOf(c.nation)))))
  }

  // ---- analytics --------------------------------------------------------

  /** Unnormalized PageRank over directed edges: ranks start at 1,
    * r = (1 − α) + α·Σ r(u)/outdeg(u). */
  def pageRank(nodes: Seq[String], edges: Seq[(String, String)], alpha: Double,
               iterations: Int): Seq[Seq[Any]] = {
    val outDeg = edges.groupBy(_._1).map { case (k, v) => k -> v.length }
    var rank = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to iterations) {
      val contrib = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
      edges.foreach { case (s, t) => contrib(t) += rank(s) / outDeg(s) }
      rank = nodes.map(n => n -> ((1.0 - alpha) + alpha * contrib.getOrElse(n, 0.0))).toMap
    }
    nodes.map(n => Seq(n, round(rank(n), 4)))
  }

  def hits(edges: Seq[(String, String)], iterations: Int): Seq[Seq[Any]] = {
    val pairs = edges.filter { case (s, t) => s != t }.distinct
    val ids = pairs.flatMap { case (s, t) => Seq(s, t) }.distinct
    var hub = ids.map(_ -> 1L).toMap
    var auth = ids.map(_ -> 0L).toMap
    for (_ <- 1 to iterations) {
      val a = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
      pairs.foreach { case (u, v) => a(v) += hub(u) }
      auth = ids.map(i => i -> a(i)).toMap
      val h = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
      pairs.foreach { case (u, v) => h(u) += auth(v) }
      hub = ids.map(i => i -> h(i)).toMap
    }
    ids.map(i => Seq(i, hub(i), auth(i)))
  }

  private def undirectedAdjacency(pairs: Seq[(String, String)]): Map[String, Vector[String]] = {
    val canon = pairs.filter { case (a, b) => a != b }
      .map { case (a, b) => if (a < b) (a, b) else (b, a) }.distinct
    canon.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toVector }
  }

  /** Synchronous label propagation over numeric ids: most frequent
    * neighbour label, ties to the smallest. */
  def labelPropagation(pairs: Seq[(String, String)], iterations: Int): Seq[Seq[Any]] = {
    val adj = undirectedAdjacency(pairs).map { case (k, v) => k.toLong -> v.map(_.toLong) }
    var label = adj.keys.map(k => k -> k).toMap
    for (_ <- 1 to iterations) {
      label = adj.map { case (v, ns) =>
        val counts = ns.groupBy(label).map { case (l, xs) => l -> xs.length }
        v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    label.toSeq.map { case (v, l) => Seq(v, l) }
  }

  /** `rounds` synchronous k-core peels; survivors with their degree. */
  def kCore(pairs: Seq[(String, String)], k: Int, rounds: Int): Seq[Seq[Any]] = {
    val adj = undirectedAdjacency(pairs)
    val deg = mutable.HashMap.empty[String, Int] ++= adj.map { case (v, ns) => v -> ns.length }
    val alive = mutable.HashSet.empty[String] ++= adj.keys
    var r = 0
    var done = false
    while (r < rounds && !done) {
      r += 1
      val dead = alive.filter(deg(_) < k).toSeq
      if (dead.isEmpty) done = true
      dead.foreach(alive -= _)
      dead.foreach(v => adj(v).foreach(u => if (alive(u)) deg(u) -= 1))
    }
    alive.toSeq.filter(deg(_) > 0).map(v => Seq(v.toLong, deg(v).toLong))
  }

  def triangles(pairs: Seq[(String, String)]): Long = {
    val adj = undirectedAdjacency(pairs).map { case (k, v) => k -> v.toSet }
    var n = 0L
    adj.foreach { case (a, ns) =>
      ns.foreach(b => if (a < b) ns.foreach(c => if (b < c && adj(b).contains(c)) n += 1))
    }
    n
  }

  def bfs(pairs: Seq[(String, String)], source: String, maxHops: Int): Seq[Seq[Any]] = {
    val adj = undirectedAdjacency(pairs)
    val dist = mutable.LinkedHashMap(source -> 0)
    var frontier = Seq(source)
    var h = 0
    while (h < maxHops && frontier.nonEmpty) {
      h += 1
      frontier = frontier.flatMap(u => adj.getOrElse(u, Vector.empty)).distinct.filterNot(dist.contains)
      frontier.foreach(dist(_) = h)
    }
    dist.toSeq.map { case (v, dd) => Seq(v, dd) }
  }

  // ---- dedup ------------------------------------------------------------

  private def normalized(text: String): String = text.trim.toLowerCase.replaceAll("\\s+", " ")

  def charShingles(text: String, k: Int): Set[String] = {
    val n = normalized(text)
    if (n.length < k) Set.empty else (0 to n.length - k).map(i => n.substring(i, i + k)).toSet
  }

  /** Every pair (idA < idB) whose set Jaccard reaches `threshold`. */
  def jaccardPairs(docs: Seq[Document], sets: Document => Set[String], threshold: Double): Seq[(Long, Long)] = {
    val withSets = docs.map(d => d.id -> sets(d)).filter(_._2.nonEmpty).sortBy(_._1).toVector
    val byToken = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    withSets.indices.foreach(i => withSets(i)._2.foreach(t => byToken.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += i))
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    withSets.indices.foreach { i =>
      val inter = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
      withSets(i)._2.foreach(t => byToken(t).foreach(j => if (j > i) inter(j) += 1))
      inter.foreach { case (j, c) =>
        val union = withSets(i)._2.size + withSets(j)._2.size - c
        if (c.toDouble / union >= threshold) out += ((withSets(i)._1, withSets(j)._1))
      }
    }
    out.toSeq
  }

  /** The 64-bit SimHash of `graft.pipeline.Dedup.simhash`: token bit b is
    * bit (b mod 4) of hex digit b / 4 of the token's md5. */
  def simhash(text: String): Long = {
    val votes = new Array[Int](64)
    val md = java.security.MessageDigest.getInstance("MD5")
    normalized(text).split(" ").filter(_.nonEmpty).foreach { tok =>
      val hex = md.digest(tok.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      for (b <- 0 until 64) {
        val nibble = Character.digit(hex.charAt(b / 4), 16)
        votes(b) += (if (((nibble >> (b % 4)) & 1) == 1) 1 else -1)
      }
    }
    (0 until 64).foldLeft(0L)((acc, b) => if (votes(b) >= 0) acc | (1L << b) else acc)
  }

  def simhashPairs(docs: Seq[Document], maxHamming: Int): Seq[Seq[Any]] = {
    val sigs = docs.map(d => d.id -> simhash(d.text)).sortBy(_._1).toVector
    for {
      i <- sigs.indices; j <- i + 1 until sigs.length
      h = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2) if h <= maxHamming
    } yield Seq(sigs(i)._1, sigs(j)._1, h)
  }
}
