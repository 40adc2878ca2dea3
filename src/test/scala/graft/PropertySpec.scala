package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.operators.Relational
import graft.pipeline.{Dedup, Similarity, TextAnalysis}

/**
 * Property-based invariants over randomized inputs — the contracts the
 * example-based specs can't exhaust: quantization error bounds, chunk
 * reconstruction, SimHash banding recall, cluster-path equivalence, and
 * as-of join agreement with the naive quadratic definition.
 *
 * Raw ScalaCheck Gen with a FIXED seed (no scalatestplus bridge in the
 * offline dependency set): deterministic across runs, 10 cases per
 * property.
 */
class PropertySpec extends SparkSpec {

  private def forAll[A](gen: Gen[A], cases: Int = 10)(f: A => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(42L)
    (0 until cases).foreach { _ =>
      f(gen.pureApply(Gen.Parameters.default, seed))
      seed = seed.next
    }
  }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(t => f(t._1, t._2))

  private def forAll[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C])(f: (A, B, C) => Unit): Unit =
    forAll(Gen.zip(ga, gb, gc))(t => f(t._1, t._2, t._3))

  test("quantizeInt8 round-trip error is bounded by scale/2 on random vectors") {
    import spark.implicits._
    val genVec = Gen.listOfN(16, Gen.chooseNum(-100.0f, 100.0f))
    forAll(Gen.listOfN(8, genVec)) { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
        .toDF("id", "vec")
      val q = Similarity.quantizeInt8(col("vec"))
      val rows = df.select(col("vec"), q.as("q"), Similarity.dequantizeInt8(q).as("back"))
        .collect()
      rows.foreach { r =>
        val scale = r.getStruct(1).getDouble(0)
        r.getSeq[Float](0).lazyZip(r.getSeq[Float](2)).foreach { (o, b) =>
          assert(math.abs(o - b) <= scale / 2 + 1e-5)
        }
      }
    }
  }

  test("chunkTokens with overlap reconstructs the original token stream") {
    import spark.implicits._
    val genDoc = Gen.chooseNum(1, 120).flatMap(n =>
      Gen.listOfN(n, Gen.identifier.map(_.take(5)).suchThat(_.nonEmpty)))
    forAll(genDoc, Gen.chooseNum(2, 16), Gen.chooseNum(0, 1)) { (toks, mt, ovFlag) =>
      val overlap = if (ovFlag == 1 && mt > 1) mt / 2 else 0
      val stride = mt - overlap
      val df = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
      val chunks = TextAnalysis.chunkTokens(df, "text", "doc_id", mt, overlap)
        .orderBy("chunk_no").collect()
      // chunk i starts at token i*stride: mapping every chunk token back
      // to its absolute position must cover [0, n) exactly, with every
      // position holding its original token (overlapped positions agree)
      val covered = chunks.flatMap { r =>
        val s = r.getInt(1) * stride
        r.getString(2).split(" ").toSeq.zipWithIndex.map { case (t, j) => (s + j, t) }
      }.toMap
      assert(covered.size === toks.length, s"coverage holes: ${covered.size} vs ${toks.length}")
      toks.zipWithIndex.foreach { case (t, i) => assert(covered(i) === t) }
    }
  }

  test("simhash banding recall: hamming<=3 pairs ALWAYS share a 16-bit chunk") {
    // pigeonhole determinism, checked directly on random signatures: flip
    // at most 3 bits of a 64-bit value — at least one of the four 16-bit
    // chunks must be untouched
    forAll(Gen.long, Gen.listOfN(3, Gen.chooseNum(0, 63))) { (sig, flips) =>
      val other = flips.distinct.foldLeft(sig)((s, b) => s ^ (1L << b))
      val shares = (0 until 4).exists { c =>
        ((sig >>> (c * 16)) & 0xFFFFL) == ((other >>> (c * 16)) & 0xFFFFL)
      }
      assert(shares)
    }
  }

  test("nearDupClusters: distributed star contraction == local union-find on random graphs") {
    import spark.implicits._
    val genEdges = Gen.chooseNum(1, 60).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(0L, 30L))))
    forAll(genEdges) { pairs =>
      val df = pairs.toDF("idA", "idB")
      val local = Dedup.nearDupClusters(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = withLocalRegimesOff(Dedup.nearDupClusters(df).collect())
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist === local)
    }
  }

  test("asofJoin agrees with the naive quadratic definition on random data") {
    import spark.implicits._
    val genRows = Gen.listOfN(30, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.chooseNum(0L, 50L)))
    forAll(genRows, genRows) { (ls, rs) =>
      val left = ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("lid", "k", "lts")
      val right = rs.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("rid", "k", "rts")
      val got = Relational.asofJoin(left, right, Seq("k"), "lts", "rts")
        .select("lid", "r_rid").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      // naive: latest right at-or-before, ties by (rts, then largest
      // payload struct = largest rid first column)
      val naive = ls.zipWithIndex.map { case ((k, t), i) =>
        val cands = rs.zipWithIndex.filter { case ((rk, rt), _) => rk == k && rt <= t }
        val best = if (cands.isEmpty) -1L
          else cands.maxBy { case ((_, rt), ri) => (rt, ri.toLong) }._2.toLong
        i.toLong -> best
      }.toMap
      assert(got === naive)
    }
  }

  test("prefixSum agrees with the sequential scan on random multi-partition data") {
    import spark.implicits._
    val genRows = Gen.listOfN(40,
      Gen.zip(Gen.chooseNum(-1000.0, 1000.0), Gen.chooseNum(0L, 99L)))
    forAll(genRows) { rows =>
      // duplicate order keys on purpose: ties must still produce ONE
      // deterministic total (the per-key sums are what callers consume)
      val df = rows.toDF("ord", "cnt").repartition(7)
      val got = Relational.prefixSum(df, "ord", "cnt", "cum")
        .groupBy(col("ord")).agg(
          sum(col("cnt")).as("c"), min(col("cum")).as("firstCum"))
        .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).toSeq
      // sequential reference: exclusive running sum in ascending order,
      // aggregated the same way per key
      val sorted = rows.sortBy(_._1)
      var run = 0L
      val perRow = sorted.map { case (o, c) => val v = (o, c, run); run += c; v }
      val naive = perRow.groupBy(_._1).map { case (o, g) =>
        (o, g.map(_._2).sum, g.map(_._3).min)
      }.toSeq
      assert(got.sortBy(_._1) === naive.toSeq.sortBy(_._1))
      // grand total of the last key's cum + cnt == total row weight
      assert(run === rows.map(_._2).sum)
    }
    // empty frame: no rows, schema gains the column
    val empty = Seq.empty[(Double, Long)].toDF("ord", "cnt")
    val out = Relational.prefixSum(empty, "ord", "cnt", "cum")
    assert(out.columns.toSeq === Seq("ord", "cnt", "cum") && out.count() === 0L)
    // non-long sum column rejects
    intercept[IllegalArgumentException](Relational.prefixSum(
      Seq((1.0, 1.0)).toDF("ord", "cnt"), "ord", "cnt", "cum"))
  }

  test("BPE train: Spark distributed rounds == driver rounds on random corpora") {
    import spark.implicits._
    import graft.pipeline.BpeVocab
    // small alphabet forces dense pair collisions (ties, back-to-back
    // runs — the two-pass-replace edge cases)
    val genWord = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val genDoc = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, genWord).map(_.mkString(" ")))
    forAll(Gen.chooseNum(2, 6).flatMap(n => Gen.listOfN(n, genDoc)), cases = 6) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val loc = BpeVocab.train(df, "text", rounds = 4)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4))).toSeq
      val dist = withLocalRegimesOff(BpeVocab.train(df, "text", rounds = 4).collect())
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4))).toSeq
      assert(loc === dist, s"corpus: $docs")
    }
  }

  test("epochShuffle is a permutation and matches the naive hash-sort definition") {
    import spark.implicits._
    import graft.pipeline.Sampling
    forAll(Gen.chooseNum(1, 200), Gen.chooseNum(0, 5), Gen.chooseNum(1, 7)) { (n, epoch, shards) =>
      val df = (0L until n.toLong).toDF("id")
      val got = Sampling.epochShuffle(df, "id", epoch, shards, verifiable = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.map(_._1).toSet === (0L until n.toLong).toSet)
      // naive reference: bucket every key, group by bucket%shards, sort
      def bucket(k: Long) = (k % 1000000 + epoch.toLong * 7919) % 1000000 * 2654435761L % 1000000
      val want = (0L until n.toLong).map(k => (k, bucket(k)))
        .groupBy(_._2 % shards)
        .flatMap { case (s, g) =>
          g.sortBy { case (k, b) => (b, k) }.zipWithIndex
            .map { case ((k, _), i) => (k, s, i.toLong + 1) } }.toSet
      assert(got.toSet === want)
    }
  }

  test("sparql core agrees with hand-rolled DataFrame semantics on random graphs") {
    import spark.implicits._
    import graft.sparql.Sparql
    // random DISTINCT triples over a small vocabulary: subjects s0..s5,
    // predicates p/q, numeric-string objects "0".."9"
    val genTriple = for {
      s <- Gen.chooseNum(0, 5).map("s" + _)
      p <- Gen.oneOf("p", "q")
      o <- Gen.chooseNum(0, 9).map(_.toString)
    } yield (s, p, o)
    forAll(Gen.listOfN(25, genTriple).map(_.distinct.toList)) { ts =>
      val df = ts.toDF("s", "p", "o")
      val pSide = df.where(col("p") === "p").select(col("s").as("x"), col("o").as("a"))
      val qSide = df.where(col("p") === "q").select(col("s").as("x"), col("o").as("b"))
      def rows3(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (0 until r.length).map(i =>
          Option(r.get(i)).map(_.toString).orNull).mkString("|")).sorted.toSeq
      // BGP star join
      assert(rows3(Sparql.run(df,
        "SELECT ?x ?a ?b WHERE { ?x <p> ?a . ?x <q> ?b . }")) ===
        rows3(pSide.join(qSide, "x")))
      // OPTIONAL = left join
      assert(rows3(Sparql.run(df,
        "SELECT ?x ?a ?b WHERE { ?x <p> ?a . OPTIONAL { ?x <q> ?b . } }")) ===
        rows3(pSide.join(qSide, Seq("x"), "left")))
      // numeric FILTER = try_cast comparison
      assert(rows3(Sparql.run(df,
        "SELECT ?x ?a WHERE { ?x <p> ?a . FILTER(?a > 4) }")) ===
        rows3(pSide.where(col("a").try_cast("double") > 4.0)))
      // MINUS on the shared (x, a) pair = left-anti join
      assert(rows3(Sparql.run(df,
        "SELECT ?x ?a WHERE { ?x <p> ?a . MINUS { ?x <q> ?a . } }")) ===
        rows3(pSide.join(qSide.select(col("x"), col("b").as("a")),
          Seq("x", "a"), "left_anti")))
      // grouped aggregate = groupBy over the numeric view
      assert(rows3(Sparql.run(df,
        "SELECT ?x (SUM(?a) AS ?t) (COUNT(?a) AS ?n) WHERE { ?x <p> ?a . } GROUP BY ?x")) ===
        rows3(pSide.groupBy(col("x")).agg(
          sum(col("a").try_cast("double")).as("t"), count(col("a")).as("n"))))
      // UNION = null-padded bag union
      assert(rows3(Sparql.run(df,
        "SELECT ?x ?a ?b WHERE { { ?x <p> ?a . } UNION { ?x <q> ?b . } }")) ===
        rows3(pSide.withColumn("b", lit(null).cast("string"))
          .unionByName(qSide.withColumn("a", lit(null).cast("string"))
            .select(col("x"), col("a"), col("b")))))
      // in-block FILTER = LeftJoin against the PRE-FILTERED right side
      // (the filter decides the binding, never outer-row survival)
      assert(rows3(Sparql.run(df,
        "SELECT ?x ?a ?b WHERE { ?x <p> ?a . OPTIONAL { ?x <q> ?b . FILTER(?b < 5) } }")) ===
        rows3(pSide.join(qSide.where(col("b").try_cast("double") < 5.0),
          Seq("x"), "left")))
      // in-block EXISTS = LeftJoin against the semi-joined right side
      assert(rows3(Sparql.run(df,
        "SELECT ?x ?a ?b WHERE { ?x <p> ?a . OPTIONAL { ?x <q> ?b . FILTER EXISTS { ?b <p> ?w . } } }")) ===
        rows3(pSide.join(
          qSide.join(pSide.select(col("x").as("b")).distinct(), Seq("b"), "left_semi"),
          Seq("x"), "left")))
    }
  }

  test("ingest richer-than comparator: strict total order, agrees with the column ordering") {
    import spark.implicits._
    import graft.streaming.EdgeStream
    // the load-bearing invariant of the incremental catalog upsert: the
    // driver-side state comparator and the read-side window ordering
    // must agree, or the state store could suppress a row the view
    // would have preferred (a silently wrong upsert)
    val genMap = Gen.chooseNum(0, 4).flatMap(n => Gen.mapOfN(n, Gen.zip(
      Gen.oneOf("k1", "k2", "k3", "name", "label"),
      Gen.oneOf("", "a", "b", "x y", "1"))))
    forAll(Gen.listOfN(6, genMap)) { maps =>
      // strict total order up to map equality
      for (a <- maps; b <- maps) {
        if (a == b) {
          assert(!EdgeStream.richerThan(a, b) && !EdgeStream.richerThan(b, a))
        } else {
          assert(EdgeStream.richerThan(a, b) !== EdgeStream.richerThan(b, a),
            s"comparator must order $a vs $b exactly one way")
        }
        for (c <- maps)
          if (EdgeStream.richerThan(a, b) && EdgeStream.richerThan(b, c))
            assert(EdgeStream.richerThan(a, c), s"transitivity: $a > $b > $c")
      }
      // column-side agreement: sorting by (size desc, canonicalCol asc)
      // yields exactly the comparator's order
      val df = maps.distinct.zipWithIndex.map { case (m, i) => (i.toLong, m) }
        .toDF("i", "props")
      val colOrder = df
        .orderBy(size(col("props")).desc, EdgeStream.canonicalCol(col("props")).asc)
        .select("i").collect().map(_.getLong(0)).toSeq
      val scalaOrder = maps.distinct.zipWithIndex
        .sortWith { case ((a, _), (b, _)) => EdgeStream.richerThan(a, b) }
        .map(_._2.toLong)
      assert(colOrder === scalaOrder,
        s"column ordering diverges from the state comparator over ${maps.distinct}")
    }
  }
}
