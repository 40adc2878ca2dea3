package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.algorithms.GraphAlgorithms
import graft.model.PropertyGraph
import graft.pipeline.{BpeVocab, Dedup}
import graft.sparql.Sparql

/**
 * The one local-regime policy: `spark.graft.localRegimes=off` turns every
 * gate off, so the row-gated regimes take their distributed paths — a
 * different job sequence with the identical answer — on a multi-hop
 * graph and on hostile inputs (empty frames, self-loops with duplicate
 * edges, 64-bit ids); so do the frontier and peel loops and the driver
 * replays of the rank, label, core, community and walk operators, the
 * partitioning family, the neighbourhood sketch and the weighted walks on
 * the hostile inputs. Connected and strongly connected components are
 * also checked against a plain-Scala replay, and on dangling and null
 * edge endpoints. Every gate is one probe collect that also loads the
 * rows ([[GraphAlgorithms.collectRowsGated]]); the job guards pin that
 * shape, with no count job, for the regimes that once counted first.
 * The near-duplicate pair operators of [[Dedup]] are compared on hostile
 * corpora (short, null and copied texts; duplicate, null and non-ASCII
 * ids; INT, BIGINT, STRING and DOUBLE ids).
 */
class LocalRegimeSwitchSpec extends SparkSpec {

  /** The column names and types, then the rows as sorted strings: an
    * order-free comparison that also sees the schema. */
  private def rows(df: DataFrame): Seq[String] =
    df.schema.fields.map(f => s"${f.name} ${f.dataType.simpleString}").mkString(", ") +:
      df.collect().toSeq.map(_.mkString("|")).sorted

  /** A path 1-2-3-4-5-6-7 (diameter 6) with the triangles 2-3-6 and 3-4-6. */
  private val hops = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
    (6L, 7L), (2L, 6L), (3L, 6L), (4L, 6L))

  private def stringEdges(es: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    es.map { case (a, b) => (a.toString, b.toString) }.toDF("src", "dst")
  }

  /** 64-bit ids well past Int.MaxValue, same shape. */
  private def longEdges(es: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    es.map { case (a, b) => (5000000000L + a, 5000000000L + b) }.toDF("src", "dst")
  }

  private def weighted(e: DataFrame): DataFrame =
    e.withColumn("weight", pmod(xxhash64(col("src"), col("dst")), lit(9L)) + 1)

  /** The eleven regimes gated by their rows, each as a frame => rows. */
  private val graphRegimes: Seq[(String, DataFrame => Seq[String])] = Seq(
    "closeness" -> (e => rows(GraphAlgorithms.closenessCentrality(e, maxHops = 4))),
    "betweenness" -> (e => rows(GraphAlgorithms.betweennessCentrality(e, maxHops = 4))),
    "maximalIndependentSet" -> (e => rows(GraphAlgorithms.maximalIndependentSet(e))),
    "jpColoring" -> (e => rows(GraphAlgorithms.jpColoring(e))),
    "maximalMatching" -> (e => rows(GraphAlgorithms.maximalMatching(e))),
    "minimumSpanningForest" ->
      (e => rows(GraphAlgorithms.minimumSpanningForest(weighted(e)))),
    "kTruss" -> (e => rows(GraphAlgorithms.kTruss(e, k = 3, rounds = 5))),
    "eccentricity" -> (e => rows(GraphAlgorithms.eccentricity(e, maxHops = 8))),
    "fastRP" -> (e => rows(GraphAlgorithms.fastRP(e, dims = 3, iterations = 2))),
    "nearDupClusters" -> (e => rows(Dedup.nearDupClusters(
      e.select(col("src").as("idA"), col("dst").as("idB"))))))

  /** Documents derived from the edge list: one per edge, words from its ids. */
  private def bpeMerges(e: DataFrame): DataFrame =
    BpeVocab.train(e.select(col("src").cast("long").as("doc_id"),
      concat_ws(" ", col("src").cast("string"), col("dst").cast("string"),
        lit("abab ab")).as("text")), "text", rounds = 4)

  private def bpe(e: DataFrame): Seq[String] = rows(bpeMerges(e))

  private val regimes = graphRegimes :+ ("bpe" -> (bpe _))

  /** The smallest source id as a string ("1" on an empty frame). */
  private def seedOf(e: DataFrame): String =
    Option(e.agg(min(col("src"))).head().get(0)).fold("1")(_.toString)

  /** The edge list as `knows` triples, and a Kleene path from the
    * constant subject `seed` or, without one, between two variables. */
  private def kleenePath(e: DataFrame, seed: Option[String]): DataFrame = {
    val triples = e.select(col("src").cast("string").as("s"), lit("knows").as("p"),
      col("dst").cast("string").as("o"))
    Sparql.run(triples, seed.fold("SELECT ?s ?o WHERE { ?s <knows>+ ?o . }")(c =>
      s"SELECT ?o WHERE { <$c> <knows>+ ?o . }"))
  }

  /** A Kleene path from the smallest subject or between two variables. */
  private def kleene(e: DataFrame, constant: Boolean): Seq[String] =
    rows(kleenePath(e, if (constant) Some(seedOf(e)) else None))

  /** The frontier and peel loops: local regime or distributed only by size. */
  private val loopRegimes: Seq[(String, DataFrame => Seq[String])] = Seq(
    "shortestPaths" -> (e => rows(GraphAlgorithms.shortestPaths(e, seedOf(e), maxHops = 4))),
    "weightedShortestPaths" -> (e => rows(GraphAlgorithms.weightedShortestPaths(
      weighted(e), seedOf(e), maxHops = 4))),
    "kCore" -> (e => rows(GraphAlgorithms.kCore(e, k = 2, rounds = 5))),
    // a DAG: the reverse duplicate (2, 1) would close a cycle
    "topologicalLevels" -> (e => rows(GraphAlgorithms.topologicalLevels(
      e.where(col("src") <= col("dst"))))),
    "kleene constant" -> (e => kleene(e, constant = true)),
    "kleene variable" -> (e => kleene(e, constant = false)))

  /** Walk starts: every source id of `e` plus the absent id 99, each walk
    * id a hash of its start. */
  private def starts(e: DataFrame): DataFrame = {
    val absent = spark.range(1).select(lit(99L).cast(e.schema("src").dataType).as("id"))
    e.select(col("src").as("id")).distinct().unionByName(absent)
      .select(pmod(xxhash64(col("id")), lit(1000L)).as("wid"), col("id"))
  }

  /** A directed property graph over `e`, its endpoints as nodes (typed
    * by the `src ∪ dst` union, while the edges keep their own types). */
  private def endpointGraph(e: DataFrame): PropertyGraph = PropertyGraph(
    e.select(col("src").as("id")).unionByName(e.select(col("dst").as("id"))).distinct(),
    e, isDirected = true)

  /** The smallest source id and the absent id 99, typed like `src`. */
  private def rankSources(e: DataFrame): DataFrame =
    e.agg(min(col("src")).as("id"))
      .unionByName(spark.range(1).select(lit(99).cast(e.schema("src").dataType).as("id")))

  /** A (id, rank) frame with the ranks rounded to 9 decimals: the two
    * paths add each vertex's contributions in different orders. */
  private def ranked(df: DataFrame): Seq[String] = rows(df.withColumn("rank", round(col("rank"), 9)))

  /** The driver replays that read the interned edge list: local below
    * their cap, distributed with the switch off. */
  private val replayRegimes: Seq[(String, DataFrame => Seq[String])] = Seq(
    "hits" -> (e => rows(GraphAlgorithms.hits(e, iterations = 3))),
    "pageRank" -> (e => ranked(GraphAlgorithms.pageRank(endpointGraph(e), iterations = 3))),
    "personalizedPageRank" -> (e => ranked(GraphAlgorithms.personalizedPageRank(
      endpointGraph(e), rankSources(e), iterations = 3))),
    "labelPropagation" -> (e => rows(GraphAlgorithms.labelPropagation(e, iterations = 3))),
    "triangleCountDF" -> (e => rows(GraphAlgorithms.triangleCountDF(e))),
    "katz" -> (e => rows(GraphAlgorithms.katz(e, iterations = 3))),
    "weightedPageRank" -> (e => rows(GraphAlgorithms.weightedPageRank(weighted(e),
      iterations = 3))),
    "coreNumbers" -> (e => rows(GraphAlgorithms.coreNumbers(e, maxK = 4))),
    "louvainCommunities" -> (e => rows(GraphAlgorithms.louvainCommunities(e, rounds = 3))),
    "randomWalks" -> (e => rows(GraphAlgorithms.randomWalks(e, starts(e), steps = 4))),
    "node2vecWalks" -> (e => rows(GraphAlgorithms.node2vecWalks(e, starts(e), steps = 4))))

  /** The partitioning family (matching-based coarsening, BLP and the
    * multilevel V-cycle), the HyperANF sketch and its read path, and the
    * weighted walks. `effectiveDiameter`'s `n_estimate` is compared at 4
    * decimals, the rounding `alg_eff_diameter` applies: it is a sum of
    * per-vertex doubles, and the two paths add them in different orders
    * (they differ in the 15th digit on the 64-bit and mixed inputs). */
  private val familyRegimes: Seq[(String, DataFrame => Seq[String])] = Seq(
    "balancedPartition" -> (e => rows(GraphAlgorithms.balancedPartition(e, numParts = 2))),
    "multilevelPartition" -> (e => rows(GraphAlgorithms.multilevelPartition(e, numParts = 2))),
    "multilevelPartition levels 2" ->
      (e => rows(GraphAlgorithms.multilevelPartition(e, numParts = 2, levels = 2))),
    "coarsenGraph" -> (e => rows(GraphAlgorithms.coarsenGraph(e))),
    "coarsenGraph HEM" ->
      (e => rows(GraphAlgorithms.coarsenGraph(weighted(e), weightCol = Some("weight")))),
    "neighborhoodRegisters" -> (e => rows(GraphAlgorithms.neighborhoodRegisters(e, hops = 2))),
    "effectiveDiameter" -> (e => rows(GraphAlgorithms.effectiveDiameter(e, hops = 3)
      .withColumn("n_estimate", round(col("n_estimate"), 4)))),
    "weightedRandomWalks" ->
      (e => rows(GraphAlgorithms.weightedRandomWalks(weighted(e), starts(e), steps = 4))))

  /** Directed sweeps, whose default sources are the vertices with an
    * out-edge. */
  private val directedRegimes: Seq[(String, DataFrame => Seq[String])] = Seq(
    "closeness directed" ->
      (e => rows(GraphAlgorithms.closenessCentrality(e, maxHops = 4, undirected = false))),
    "eccentricity directed" ->
      (e => rows(GraphAlgorithms.eccentricity(e, maxHops = 4, undirected = false))))

  test("kill-switch: every count-gated regime takes its distributed path " +
      "with the switch off and returns the same rows") {
    val e = stringEdges(hops)
    val switchIgnored = regimes.filter { case (name, run) =>
      val (onJobs, on) = jobsDuring(run(e))
      val (offJobs, off) = withLocalRegimesOff(jobsDuring(run(e)))
      assert(off === on, name)
      assert(on.length > 1, name) // a schema line and at least one row
      // a regime that ignores the switch takes the same path, same jobs
      offJobs.length == onJobs.length
    }.map(_._1)
    assert(switchIgnored.isEmpty, "same jobs with the switch off")
  }

  test("kill-switch parity on hostile inputs: empty, self-loop + duplicate, 64-bit ids") {
    import spark.implicits._
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    val loopDup = stringEdges(hops ++ Seq((3L, 3L), (1L, 2L), (2L, 1L)))
    val wide = longEdges(hops ++ Seq((5L, 5L), (4L, 5L)))
    // every case runs, so a failure lists all the operators that differ
    val differ = for ((input, e) <- Seq("empty" -> empty, "self-loop + duplicate" -> loopDup,
        "64-bit ids" -> wide);
        (name, run) <- regimes ++ loopRegimes ++ replayRegimes ++ familyRegimes;
        on = scala.util.Try(run(e));
        off = scala.util.Try(withLocalRegimesOff(run(e))) if on != off)
      yield s"$name on $input: on $on, off $off"
    assert(differ.isEmpty, differ.mkString("\n"))
  }

  test("kill-switch parity on mixed INT/LONG ids: rows and column types") {
    import spark.implicits._
    // src INT, dst BIGINT: both paths type every id by the src ∪ dst union
    val mixed = hops.map { case (a, b) => (a.toInt, b) }.toDF("src", "dst")
    val all = regimes ++ loopRegimes ++ replayRegimes ++ familyRegimes ++ directedRegimes
    val differ = all.flatMap { case (name, run) =>
      val on = scala.util.Try(run(mixed))
      val off = scala.util.Try(withLocalRegimesOff(run(mixed)))
      if (on == off) None else Some(s"$name: on $on, off $off")
    }
    assert(differ.isEmpty, differ.mkString("\n"))
  }

  test("closeness and eccentricity directed: a vertex without an out-edge is no source") {
    // 7 has no out-edge in the hops graph
    val e = stringEdges(hops)
    for ((name, run) <- Seq[(String, DataFrame => DataFrame)](
        "closeness" -> (GraphAlgorithms.closenessCentrality(_, maxHops = 4, undirected = false)),
        "eccentricity" -> (GraphAlgorithms.eccentricity(_, maxHops = 4, undirected = false)))) {
      val on = rows(run(e))
      assert(withLocalRegimesOff(rows(run(e))) === on, name)
      assert(on.tail.map(_.split('|').head) === (1 to 6).map(_.toString), name)
    }
  }

  test("closeness, betweenness and eccentricity gate and load with one probe collect") {
    // shuffled, so the probe launches a job (a local relation needs none)
    val e = stringEdges(hops).repartition(2)
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "closeness" -> (() => GraphAlgorithms.closenessCentrality(e, maxHops = 4)),
      "betweenness" -> (() => GraphAlgorithms.betweennessCentrality(e, maxHops = 4)),
      "eccentricity" -> (() => GraphAlgorithms.eccentricity(e, maxHops = 4)))
    for ((name, call) <- calls) {
      val (jobs, _) = jobsDuring(call())
      assert(jobs.nonEmpty && jobs.distinct.size === 1 &&
        jobs.head.startsWith("collect at GraphAlgorithms"), s"$name: $jobs")
    }
  }

  /** A property graph over the node `ids` and the edges `es` (a null
    * endpoint stays null). */
  private def graph(ids: Seq[String], es: Seq[(String, String)], directed: Boolean)
      : PropertyGraph = {
    import spark.implicits._
    val props = map().cast("map<string,string>").as("properties")
    val nodes = ids.toDF("id").select(col("id"), lit("").as("label"), props)
    val edges = es.toDF("src", "dst").select(col("src"), col("dst"), lit("E").as("type"), props)
    PropertyGraph(nodes, PropertyGraph.withEid(edges), directed)
  }

  /** An (id, component) frame as the set of its components' member sets,
    * after checking that each is labelled by its smallest member id. */
  private def partition(df: DataFrame): Set[Set[String]] = {
    val byLabel = df.collect().groupBy(_.getString(1)).map { case (c, rs) =>
      c -> rs.map(_.getString(0)).toSet }
    byLabel.foreach { case (c, ms) => assert(c === ms.min, s"label of $ms") }
    byLabel.values.toSet
  }

  /** The edges of `es` whose endpoints are both among `ids`. */
  private def inside(ids: Seq[String], es: Seq[(String, String)]): Seq[(String, String)] =
    es.filter { case (a, b) => ids.contains(a) && ids.contains(b) }

  /** Plain-Scala connected components: union-find over the node set. */
  private def unionFind(ids: Seq[String], es: Seq[(String, String)]): Set[Set[String]] = {
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: String): String = if (parent(x) == x) x else find(parent(x))
    inside(ids, es).foreach { case (a, b) => parent(find(a)) = find(b) }
    ids.groupBy(find).values.map(_.toSet).toSet
  }

  /** Plain-Scala strongly connected components: u and v share one iff
    * each reaches the other. */
  private def mutualReach(ids: Seq[String], es: Seq[(String, String)]): Set[Set[String]] = {
    val adj = inside(ids, es).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    def reach(v: String): Set[String] = {
      var seen = Set(v)
      var todo = List(v)
      while (todo.nonEmpty) {
        val x = todo.head
        todo = todo.tail
        adj.getOrElse(x, Nil).filterNot(seen).foreach { y => seen += y; todo ::= y }
      }
      seen
    }
    val r = ids.map(v => v -> reach(v)).toMap
    ids.map(v => ids.filter(u => r(v)(u) && r(u)(v)).toSet).toSet
  }

  /** Nodes 1..9 (8 and 9 isolated) and the SCCs {2..7}, {1}: the hops
    * graph with the back edges 6→2 and 7→5, under each hostile input. */
  private val componentInputs: Seq[(String, Seq[String], Seq[(String, String)])] = {
    val ids = (1 to 9).map(_.toString)
    val es = (hops ++ Seq((6L, 2L), (7L, 5L))).map { case (a, b) => (a.toString, b.toString) }
    def wide(x: String) = if (x == null) x else (5000000000L + x.toLong).toString
    Seq(
      ("empty edges, isolated nodes", ids, Nil),
      ("self-loop + duplicates", ids, es ++ Seq(("3", "3"), ("1", "2"), ("2", "1"), ("2", "1"))),
      ("64-bit ids", ids.map(wide), es.map { case (a, b) => (wide(a), wide(b)) }),
      // through 99 the dangling edges would merge 8 with 9 and 1 with 2..7
      ("endpoint not a node", ids, es ++ Seq(("8", "99"), ("99", "9"), ("7", "99"), ("99", "1"))),
      ("null endpoint", ids, es ++ Seq((null, "1"), ("8", null), (null, null))))
  }

  test("connected components: switch on = off = union-find on hostile inputs") {
    for ((input, ids, es) <- componentInputs) {
      val g = graph(ids, es, directed = false)
      val on = partition(GraphAlgorithms.connectedComponents(g))
      val off = withLocalRegimesOff(partition(GraphAlgorithms.connectedComponents(g)))
      assert(on === unionFind(ids, es), input)
      assert(off === on, input)
    }
  }

  test("scc: switch on = off = mutual reachability on hostile inputs") {
    for ((input, ids, es) <- componentInputs) {
      val g = graph(ids, es, directed = true)
      val on = partition(GraphAlgorithms.stronglyConnectedComponents(g))
      val off = withLocalRegimesOff(partition(GraphAlgorithms.stronglyConnectedComponents(g)))
      assert(on === mutualReach(ids, es), input)
      assert(off === on, input)
    }
  }

  test("scc with the switch off: a chain of 12 two-cycles") {
    // (0↔1)→(2↔3)→…→(22↔23): pair 0 reaches every pair, so forward
    // coloring gives all one color and each outer round finishes one SCC
    // (more rounds than a 10-round cap allows)
    val ids = (0 until 24).map(_.toString)
    val es = (0 until 24 by 2).flatMap { i =>
      Seq((i.toString, (i + 1).toString), ((i + 1).toString, i.toString)) ++
        (if (i + 2 < 24) Seq(((i + 1).toString, (i + 2).toString)) else Nil)
    }
    val g = graph(ids, es, directed = true)
    val off = withLocalRegimesOff(partition(GraphAlgorithms.stronglyConnectedComponents(g)))
    assert(off === mutualReach(ids, es))
  }

  test("gate: one probe collect; switch off says no, no job") {
    // shuffled, so collecting it launches jobs
    val df = spark.range(0, 50, 1, 4).repartition(3).toDF("id")
    val (onJobs, rowsOn) = jobsDuring(GraphAlgorithms.collectRowsGated(df, 1000L))
    assert(rowsOn.map(_.length) === Some(50) && onJobs.nonEmpty &&
      onJobs.forall(_.startsWith("collect at GraphAlgorithms")), onJobs)
    val (offJobs, rowsOff) = withLocalRegimesOff(jobsDuring(
      GraphAlgorithms.collectRowsGated(df, 1000L)))
    assert(rowsOff === None && offJobs.isEmpty)
    // a non-positive threshold is "never local", also without a job
    val (cutJobs, cut) = jobsDuring(GraphAlgorithms.collectRowsGated(df, 0L))
    assert(cut === None && cutJobs.isEmpty)
  }

  test("MIS, coloring, matching, coarsening, MST, sketch, partitioning, kTruss, fastRP, " +
      "pair components, Kleene paths and BPE gate and load with one probe collect") {
    // no count job: the gate and the load are one collect action (Spark's
    // limit may run it as a few jobs, each at that call site)
    // shuffled, so the probe launches a job (a local relation needs none)
    val e = stringEdges(hops).repartition(2)
    val calls: Seq[(String, () => Any)] = Seq(
      "maximalIndependentSet" -> (() => GraphAlgorithms.maximalIndependentSet(e)),
      "jpColoring" -> (() => GraphAlgorithms.jpColoring(e)),
      "maximalMatching" -> (() => GraphAlgorithms.maximalMatching(e)),
      "coarsenGraph" -> (() => GraphAlgorithms.coarsenGraph(e)),
      "minimumSpanningForest" -> (() => GraphAlgorithms.minimumSpanningForest(weighted(e))),
      "neighborhoodRegisters" -> (() => GraphAlgorithms.neighborhoodRegisters(e, hops = 2)),
      "balancedPartition" -> (() => GraphAlgorithms.balancedPartition(e, numParts = 2)),
      "multilevelPartition" -> (() => GraphAlgorithms.multilevelPartition(e, numParts = 2)),
      "kTruss" -> (() => GraphAlgorithms.kTruss(e, k = 3, rounds = 5)),
      "fastRP" -> (() => GraphAlgorithms.fastRP(e, dims = 3, iterations = 2)),
      "nearDupClusters" -> (() =>
        Dedup.nearDupClusters(e.select(col("src").as("idA"), col("dst").as("idB")))),
      "kleene constant" -> (() => kleenePath(e, Some("1"))),
      "kleene variable" -> (() => kleenePath(e, None)),
      "bpe" -> (() => bpeMerges(e)))
    val shapes = calls.flatMap { case (name, call) =>
      val (jobs, _) = jobsDuring(call())
      if (jobs.nonEmpty && jobs.distinct.size == 1 &&
        jobs.head.startsWith("collect at GraphAlgorithms")) None else Some(s"$name: $jobs")
    }
    assert(shapes.isEmpty, shapes.mkString("\n"))
  }

  /** Ten 40-word texts, three exact and four one-word-edited copies, two
    * equal texts and one text shorter than the shingle size, an empty
    * and a null text: 22 documents. */
  private val nearDupTexts: Seq[String] = {
    val rnd = new scala.util.Random(5)
    val words = Seq.fill(300)(rnd.alphanumeric.filter(_.isLetter)
      .take(3 + rnd.nextInt(6)).mkString.toLowerCase)
    val base = Seq.fill(10)(Seq.fill(40)(words(rnd.nextInt(words.size))).mkString(" "))
    def edit(t: String): String = {
      val w = t.split(" ")
      w(rnd.nextInt(w.length)) = "zzz"
      w.mkString(" ")
    }
    base ++ base.take(3) ++ base.slice(3, 7).map(edit) ++ Seq("ab", "ab", "abcd", "", null)
  }

  /** The (doc_id, text) frame of `nearDupTexts` under the ids `ids`, in
    * two partitions. */
  private def docs(idType: DataType, ids: Seq[Any]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      ids.zip(nearDupTexts).map { case (i, t) => Row(i, t) }, 2),
      StructType(Seq(StructField("doc_id", idType), StructField("text", StringType))))

  private val longIds: Seq[Any] = nearDupTexts.indices.map(i => 5000000000L + i)

  /** Hostile corpora: the first copy of text 0 is document 10; with
    * non-ASCII ids those two are U+FF21 and U+1F600, which Spark orders
    * by their UTF-8 bytes (U+FF21 first) and Java by UTF-16 units
    * (U+1F600 first). */
  private def nearDupCorpora: Seq[(String, DataFrame)] = Seq(
    "empty" -> docs(LongType, Nil),
    "INT ids" -> docs(IntegerType, nearDupTexts.indices.map(i => i + 1)),
    "BIGINT ids past Int.MaxValue" -> docs(LongType, longIds),
    "STRING ids" -> docs(StringType, nearDupTexts.indices.map(i => s"d$i")),
    "non-ASCII STRING ids" -> docs(StringType, nearDupTexts.indices.map {
      case 0 => "\uFF21"
      case 10 => "\uD83D\uDE00"
      case i => s"d$i"
    }),
    "DOUBLE ids" -> docs(DoubleType, nearDupTexts.indices.map(i => i + 0.5)),
    // documents 11 (a copy of text 1) and 12 (of text 2) share one id
    "duplicate id" -> docs(LongType, longIds.updated(11, longIds(12))),
    // document 3's edited copy has no id
    "null id" -> docs(LongType, longIds.updated(13, null)))

  /** The pair operators over a corpus and a benchmark side (documents 10
    * on of the corpus, the copies, with the same ids and types). */
  private val nearDupOps: Seq[(String, (DataFrame, DataFrame) => Seq[String])] = Seq(
    "minhashPairs" -> ((d, _) => rows(Dedup.minhashPairs(d, "text", "doc_id", threshold = 0.8))),
    "crossMinhashPairs" ->
      ((d, b) => rows(Dedup.crossMinhashPairs(d, b, "text", "doc_id", threshold = 0.8))),
    "simhashPairs" -> ((d, _) => rows(Dedup.simhashPairs(d, "text", "doc_id", maxHamming = 3))))

  test("near-duplicate pairs: switch on = off on hostile corpora") {
    def bench(d: DataFrame): DataFrame = {
      val ids = d.collect().toSeq.drop(10).map(_.get(0))
      spark.createDataFrame(spark.sparkContext.parallelize(
        ids.zip(nearDupTexts.drop(10)).map { case (i, t) => Row(i, t) }, 1), d.schema)
    }
    val cases = nearDupCorpora.map { case (name, d) => (name, d, bench(d)) } :+
      // cross sides whose id types differ: an INT corpus, a BIGINT benchmark
      (("INT corpus, BIGINT benchmark", docs(IntegerType, nearDupTexts.indices.map(i => i + 1)),
        bench(docs(LongType, nearDupTexts.indices.map(i => i + 1L)))))
    val results = for ((input, d, b) <- cases; (name, run) <- nearDupOps) yield {
      val on = scala.util.Try(run(d, b))
      val off = scala.util.Try(withLocalRegimesOff(run(d, b)))
      (input, name, on, off)
    }
    val differ = results.collect { case (input, name, on, off) if on != off =>
      s"$name on $input: on $on, off $off" }
    assert(differ.isEmpty, differ.mkString("\n"))
    // every operator finds pairs on a plain corpus: exact copies at least
    results.filter(_._1 == "BIGINT ids past Int.MaxValue").foreach { case (_, name, on, _) =>
      assert(on.get.length > 4, name)
    }
  }
}
