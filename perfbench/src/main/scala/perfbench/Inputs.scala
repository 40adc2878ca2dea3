package perfbench

import java.util.SplittableRandom

/** Every input the engine receives from a run's `--seed`: anchor ids,
  * thresholds, the BFS source, injected near-duplicates and ingest edge
  * batches. The base tables ([[Data]]) never change with the seed. Each
  * stream of inputs draws from its own generator, so adding draws to one
  * workload leaves the others' inputs unchanged. */
final class Inputs(val seed: Long, data: Data) {

  private def rng(stream: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  // ---- interactive ------------------------------------------------------
  private val interactiveRng = rng(1)

  /** The next interactive round: every read kind once, in a seeded order,
    * each with fresh seeded arguments. */
  def interactiveRound(): Vector[Read] = {
    val r = interactiveRng
    def cust = data.customers(r.nextInt(data.customers.length)).key
    def seg = Data.Segments(r.nextInt(Data.Segments.length))
    val kinds = Read.Kinds.toArray
    for (i <- kinds.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t
    }
    kinds.toVector.map {
      case k @ ("point" | "hop1" | "hop2" | "sparql_path") => Read(k, key = cust)
      case k @ "filter_limit" => Read(k, threshold = r.nextInt(9000).toDouble)
      case k => Read(k, segment = seg)
    }
  }

  // ---- analytics --------------------------------------------------------
  private val analyticsRng = rng(2)

  /** A seeded BFS source among the hash graph's vertices. */
  def bfsSource(hashVertices: IndexedSeq[String]): String =
    hashVertices(analyticsRng.nextInt(hashVertices.length))

  // ---- dedup ------------------------------------------------------------

  /** Near-duplicate copies planted into the corpus: a seeded share of the
    * documents, each copied with one or two words substituted. Copy ids
    * continue after the base ids. */
  lazy val injectedDocuments: Vector[Document] = {
    val r = rng(3)
    val base = data.documents
    val share = 0.08 + r.nextDouble() * 0.04
    val n = math.max(2, (base.length * share).toInt)
    Vector.tabulate(n) { i =>
      val src = base(r.nextInt(base.length))
      val words = src.text.split(" ")
      for (_ <- 0 until 1 + r.nextInt(2))
        words(r.nextInt(words.length)) = Data.Vocabulary(r.nextInt(Data.Vocabulary.length))
      Document(base.length + i, words.mkString(" "))
    }
  }

  // ---- ingest -----------------------------------------------------------
  private val ingestRng = rng(5)
  private val sentPairs = scala.collection.mutable.HashSet.empty[(String, String)]

  /** The next edge batch: `size` distinct undirected edges, none seen in an
    * earlier batch, no self-loops. Endpoints are hub-heavy: a squared
    * uniform draw sends a large share of edges to the first few vertices. */
  def nextBatch(size: Int, vertices: Int = Inputs.IngestVertices): Vector[(String, String)] = {
    val r = ingestRng
    val out = Vector.newBuilder[(String, String)]
    var n = 0
    while (n < size) {
      def v = { val u = r.nextDouble(); (u * u * vertices).toInt }
      val (a, b) = (v, v)
      if (a != b) {
        val key = if (a < b) (s"v$a", s"v$b") else (s"v$b", s"v$a")
        if (sentPairs.add(key)) {
          out += (if (r.nextBoolean()) key else key.swap)
          n += 1
        }
      }
    }
    out.result()
  }

  /** A seeded read anchor among the vertices `edges` touch. */
  def ingestAnchor(edges: IndexedSeq[(String, String)]): String = {
    val e = edges(ingestRng.nextInt(edges.length))
    if (ingestRng.nextBoolean()) e._1 else e._2
  }

  /** A canonical text form of the inputs the first `steps` draws of each
    * stream produce — the determinism tests compare these bytes. */
  def render(steps: Int, hashVertices: IndexedSeq[String]): String = {
    val sb = new StringBuilder
    for (_ <- 0 until steps) sb ++= interactiveRound().mkString(" ") += '\n'
    for (_ <- 0 until steps) sb ++= bfsSource(hashVertices) += '\n'
    injectedDocuments.foreach(d => sb ++= s"${d.id}\t${d.text}\n")
    for (_ <- 0 until steps) sb ++= nextBatch(50).mkString(" ") += '\n'
    sb.toString
  }
}

object Inputs {
  /** Vertex id space of the ingest stream. */
  val IngestVertices = 4000
}

/** One interactive read and its seeded arguments. */
final case class Read(kind: String, key: Long = -1, threshold: Double = 0, segment: String = "")

object Read {
  val Kinds: Vector[String] =
    Vector("point", "hop1", "hop2", "filter_limit", "group_agg", "sparql_path")
}
