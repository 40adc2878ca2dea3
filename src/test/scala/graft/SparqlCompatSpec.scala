package graft

import org.scalacheck.Gen

import graft.sparql.Sparql

/**
 * SPARQL 1.1 §18.3 solution-compatibility semantics — the shapes where
 * a join key can arrive UNBOUND (OPTIONAL-introduced vars, UNION
 * padding, BIND aliases, UNDEF inline rows, subquery aggregate
 * aliases). The engine stratifies by null-mask into plain equi-joins
 * ([[Sparql.compatJoin]]); these specs pin the values against
 * hand-computed answers, and the property tests replay randomized
 * graphs through a driver-side reference implementation of the spec's
 * compatibility definitions (`merge` / `compatible` over binding maps).
 */
class SparqlCompatSpec extends SparkSpec {

  private def triples(rows: (String, String, String)*) = {
    import spark.implicits._
    rows.toDF("s", "p", "o")
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().toSeq.map(r => (0 until r.length)
      .map(i => Option(r.get(i)).map(_.toString).getOrElse("∅")).mkString(","))

  test("UNION branch leaving a shared var unbound joins the base by compatibility") {
    val t = triples(("a","p","o1"),("b","p","o2"),("a","age","30"),("z","mark","99"))
    // branch 2 never binds ?x: its solutions are compatible with every
    // base row and adopt the base's ?x
    assert(rowsOf(Sparql.run(t,
      "SELECT ?x ?n WHERE { ?x <p> ?o . { ?x <age> ?n } UNION { ?q <mark> ?n } }"))
      .sorted === Seq("a,30", "a,99", "b,99"))
  }

  test("UNDEF rows in VALUES are wildcards (in-group, single and multi-var)") {
    val t = triples(("a","tag","x"),("b","tag","y"))
    assert(rowsOf(Sparql.run(t,
      """SELECT ?s ?t ?r WHERE { ?s <tag> ?t . VALUES (?t ?r) { ("x" "1") (UNDEF "2") } }"""))
      .sorted === Seq("a,x,1", "a,x,2", "b,y,2"))
    // bag semantics: "x" matches a twice (the constant and the UNDEF row)
    assert(rowsOf(Sparql.run(t,
      """SELECT ?s ?t WHERE { ?s <tag> ?t . VALUES ?t { "x" UNDEF } }"""))
      .sorted === Seq("a,x", "a,x", "b,y"))
  }

  test("OPTIONAL-bound var as MINUS / EXISTS / NOT EXISTS key") {
    val t = triples(("a","p","1"),("b","p","1"),("c","p","1"),
      ("a","tag","x"),("b","tag","y"),("q","bad","x"))
    // μ_a (t=x) matches the bad list — removed by MINUS and NOT EXISTS;
    // μ_c (t unbound): MINUS keeps (disjoint domains, §8.3), NOT EXISTS
    // drops (unbound is compatible with the non-empty block) — the
    // spec's MINUS / NOT-EXISTS divergence on nullable keys
    assert(rowsOf(Sparql.run(t,
      "SELECT ?s WHERE { ?s <p> ?o . OPTIONAL { ?s <tag> ?t } MINUS { ?q <bad> ?t } }"))
      .sorted === Seq("b", "c"))
    assert(rowsOf(Sparql.run(t,
      "SELECT ?s WHERE { ?s <p> ?o . OPTIONAL { ?s <tag> ?t } FILTER NOT EXISTS { ?q <bad> ?t } }"))
      .sorted === Seq("b"))
    assert(rowsOf(Sparql.run(t,
      "SELECT ?s WHERE { ?s <p> ?o . OPTIONAL { ?s <tag> ?t } FILTER EXISTS { ?q <bad> ?t } }"))
      .sorted === Seq("a", "c"))
  }

  test("two sibling OPTIONALs sharing a var: the second extends unbound rows") {
    val t = triples(("a","p","1"),("b","p","1"),("c","p","1"),
      ("a","t1","V1"),("b","t2","V2"))
    // b missed the first OPTIONAL (?v unbound) and is extended by the
    // second — a plain equi-left-join would leave b's ?v null
    assert(rowsOf(Sparql.run(t,
      "SELECT ?x ?v WHERE { ?x <p> ?o . OPTIONAL { ?x <t1> ?v } OPTIONAL { ?x <t2> ?v } }"))
      .sorted === Seq("a,V1", "b,V2", "c,∅"))
  }

  test("sub-SELECT after an OPTIONAL joins the extended solutions in group order") {
    val t = triples(("a","p","1"),("b","p","1"),("a","m","g1"),
      ("z1","m2","g1"),("z2","m2","g1"),("z3","m2","g2"))
    // §18.2.2.6: the sub-SELECT is folded AFTER the OPTIONAL — b's
    // unbound ?m is compatible with every subquery group
    assert(rowsOf(Sparql.run(t,
      """SELECT ?s ?m ?c WHERE { ?s <p> ?o . OPTIONAL { ?s <m> ?m }
        |{ SELECT ?m (COUNT(?z) AS ?c) WHERE { ?z <m2> ?m } GROUP BY ?m } }""".stripMargin))
      .sorted === Seq("a,g1,2", "b,g1,2", "b,g2,1"))
  }

  test("subquery aggregate alias as join key: bound stratum joins, empty-scan alias is a wildcard") {
    val t = triples(("a","p","3"),("b","p","7"),("z","q","3"),("z","q","5"))
    assert(rowsOf(Sparql.run(t,
      "SELECT ?s ?m WHERE { ?s <p> ?m . { SELECT (MIN(?o) AS ?m) WHERE { ?z <q> ?o } } }"))
      === Seq("a,3"))
    // MIN over an empty scan → one all-null solution → compatible with
    // every outer row, which keeps its own binding
    assert(rowsOf(Sparql.run(t,
      "SELECT ?s ?m WHERE { ?s <p> ?m . { SELECT (MIN(?o) AS ?m) WHERE { ?z <nope> ?o } } }"))
      .sorted === Seq("a,3", "b,7"))
  }

  test("BIND referencing a var no prior element binds yields an unbound alias (§18.2.2.5)") {
    val t = triples(("a","p","1"),("a","q","5"))
    // ?later is bound by a LATER pattern run — the BIND sees only the
    // group-so-far, so ?x is unbound everywhere (never an analysis error)
    assert(rowsOf(Sparql.run(t,
      "SELECT ?s ?x WHERE { ?s <p> ?o . BIND(?later AS ?x) ?s <q> ?later }"))
      === Seq("a,∅"))
  }

  test("group-order property: VALUES before vs after an OPTIONAL differ exactly per spec") {
    val t = triples(("a","tag","x"),("b","tag","y"),
      ("a","score","10"),("b","score","99"))
    // after the OPTIONAL: b's score 99 is outside the inline set → b is
    // DROPPED (its bound ?v is incompatible)
    assert(rowsOf(Sparql.run(t,
      """SELECT ?s WHERE { ?s <tag> ?t . OPTIONAL { ?s <score> ?v } VALUES ?v { "10" } }"""))
      === Seq("a"))
    // before the OPTIONAL: ?v = 10 constrains first, the OPTIONAL then
    // fails to extend b (score 99 ≠ 10) but b SURVIVES with ?v = 10
    assert(rowsOf(Sparql.run(t,
      """SELECT ?s WHERE { ?s <tag> ?t . VALUES ?v { "10" } OPTIONAL { ?s <score> ?v } }"""))
      .sorted === Seq("a", "b"))
  }

  test("right-nullable OPTIONAL: a nested-OPTIONAL binding may re-use an outer var") {
    // the OPTIONAL block's surface carries ?v bound only in its NESTED
    // optional — the block row for b leaves ?v unbound and is still
    // compatible with (and keeps) b's outer binding; a's block row
    // binds ?v = 9 ≠ 1 and is incompatible, so a survives BARE
    val t = triples(
      ("a","p","1"),("a","q","k1"),("k1","r","9"),
      ("b","p","2"),("b","q","k2"),
      ("c","p","3"),
      ("d","p","4"),("d","q","k4"),("k4","r","4"))
    assert(rowsOf(Sparql.run(t,
      "SELECT ?s ?v ?k WHERE { ?s <p> ?v . OPTIONAL { ?s <q> ?k . OPTIONAL { ?k <r> ?v } } }"))
      .sorted === Seq("a,1,∅", "b,2,k2", "c,3,∅", "d,4,k4"))
  }

  test("disjoint-domain OPTIONAL: the §18.3 compatibility product, top-level and nested") {
    val t = triples(("a","p","1"),("b","p","2"),("x","q","7"),("y","q","8"))
    // no shared var: every pairing is compatible — LeftJoin = product
    assert(rowsOf(Sparql.run(t,
      "SELECT ?s ?v ?w WHERE { ?s <p> ?v . OPTIONAL { ?z <q> ?w } }"))
      .sorted === Seq("a,1,7", "a,1,8", "b,2,7", "b,2,8"))
    // empty block: lefts survive null-padded
    assert(rowsOf(Sparql.run(t,
      "SELECT ?s ?w WHERE { ?s <p> ?v . OPTIONAL { ?z <zz> ?w } }"))
      .sorted === Seq("a,∅", "b,∅"))
    // a cross-scope condition picks partners per-left; a left with no
    // qualifying partner null-pads (three-arg LeftJoin semantics)
    assert(rowsOf(Sparql.run(t,
      "SELECT ?s ?w WHERE { ?s <p> ?v . OPTIONAL { ?z <q> ?w FILTER(?w < ?v * 4) } }"))
      .sorted === Seq("a,∅", "b,7"))
    // nested inside an OPTIONAL block: same product semantics, and the
    // outer LeftJoin null-pads lefts whose block found nothing
    val t2 = triples(("a","p","1"),("b","p","2"),("a","q2","m"),
      ("x","q","7"),("y","q","8"))
    assert(rowsOf(Sparql.run(t2,
      "SELECT ?s ?k ?w WHERE { ?s <p> ?v . OPTIONAL { ?s <q2> ?k . OPTIONAL { ?z <q> ?w } } }"))
      .sorted === Seq("a,m,7", "a,m,8", "b,∅,∅"))
  }

  test("right-nullable MINUS / EXISTS keys: block rows with unbound shared vars") {
    val t = triples(
      ("a","p","1"),("a","q","k1"),("k1","r","9"),
      ("b","p","2"),("b","q","k2"),
      ("c","p","3"),
      ("d","p","4"),("d","q","k4"),("k4","r","4"))
    // block rows: (a,k1,9) (b,k2,∅) (d,k4,4). a: v 9≠1 incompatible →
    // kept; b: the v-unbound row matches on ?s → removed; c: no row →
    // kept; d: exact match → removed
    assert(rowsOf(Sparql.run(t,
      "SELECT ?s WHERE { ?s <p> ?v . MINUS { ?s <q> ?k . OPTIONAL { ?k <r> ?v } } }"))
      .sorted === Seq("a", "c"))
    assert(rowsOf(Sparql.run(t,
      "SELECT ?s WHERE { ?s <p> ?v . FILTER EXISTS { ?s <q> ?k . OPTIONAL { ?k <r> ?v } } }"))
      .sorted === Seq("b", "d"))
    assert(rowsOf(Sparql.run(t,
      "SELECT ?s WHERE { ?s <p> ?v . FILTER NOT EXISTS { ?s <q> ?k . OPTIONAL { ?k <r> ?v } } }"))
      .sorted === Seq("a", "c"))
  }

  test("cross-scope LeftJoin condition over a maybe-unbound outer var") {
    val t = triples(
      ("a","p","1"),("a","m","5"),("a","bonus","9"),
      ("b","p","1"),("b","m","5"),("b","bonus","3"),
      ("c","p","1"),("c","bonus","9"),
      ("d","p","1"),("d","m","2"))
    // FILTER(?b > ?q) with ?q from an earlier OPTIONAL — both-var
    // comparisons are LEXICAL over untyped literals (single-digit data
    // keeps lexical = numeric): a binds (9>5);
    // b fails (3>5) and survives bare; c's unbound ?q makes the
    // condition a type error (null) — bare, per §17.2; d has no block
    // row at all — bare
    assert(rowsOf(Sparql.run(t,
      """SELECT ?s ?q ?b WHERE { ?s <p> ?o . OPTIONAL { ?s <m> ?q }
        |OPTIONAL { ?s <bonus> ?b . FILTER(?b > ?q) } }""".stripMargin))
      .sorted === Seq("a,5,9", "b,5,∅", "c,∅,∅", "d,2,∅"))
    // the same condition under correlated NOT EXISTS: only a has a
    // qualifying row → dropped; everyone else kept
    assert(rowsOf(Sparql.run(t,
      """SELECT ?s WHERE { ?s <p> ?o . OPTIONAL { ?s <m> ?q }
        |FILTER NOT EXISTS { ?s <bonus> ?b . FILTER(?b > ?q) } }""".stripMargin))
      .sorted === Seq("b", "c", "d"))
  }

  test("property: cross-scope OPTIONAL condition matches the three-arg LeftJoin reference") {
    val numGraph: Gen[Seq[(String, String, String)]] = {
      val subj = Gen.oneOf("s0", "s1", "s2", "s3")
      val num = Gen.chooseNum(0, 5).map(_.toString)
      val edge = for { s <- subj; p <- Gen.oneOf("p", "q"); o <- num } yield (s, p, o)
      Gen.chooseNum(4, 14).flatMap(n => Gen.listOfN(n, edge)).map(_.distinct)
    }
    forAll(numGraph) { g =>
      val t = triples(g: _*)
      val got = rowsOf(Sparql.run(t,
        "SELECT ?s ?v ?w WHERE { ?s <p> ?v . OPTIONAL { ?s <q> ?w . FILTER(?w > ?v) } }")).sorted
      val base = g.collect { case (s, "p", v) => Map("s" -> s, "v" -> v) }
      val block = g.collect { case (s, "q", w) => Map("s" -> s, "w" -> w) }
      // LeftJoin(Ω1, Ω2, expr): extensions where compatible AND expr
      // holds on the MERGED binding; bare when none qualifies
      val ref = base.flatMap { mu =>
        val ext = block.filter(mp => compatible(mu, mp) &&
          mp("w").toDouble > mu("v").toDouble).map(mu ++ _)
        if (ext.isEmpty) Seq(mu) else ext
      }
      def show(m: Map[String, String]): String =
        Seq("s", "v", "w").map(m.getOrElse(_, "∅")).mkString(",")
      assert(got === ref.map(show).sorted, s"three-arg LeftJoin over $g")
    }
  }

  // ----- randomized reference replay --------------------------------------

  /** Driver-side reference: solutions as var→value maps (unbound vars
    * ABSENT), the spec's compatible/merge definitions verbatim. */
  private def compatible(a: Map[String, String], b: Map[String, String]): Boolean =
    a.keySet.intersect(b.keySet).forall(k => a(k) == b(k))

  private def forAll[A](gen: Gen[A], cases: Int = 8)(f: A => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(1414L)
    (0 until cases).foreach { _ =>
      f(gen.pureApply(Gen.Parameters.default, seed))
      seed = seed.next
    }
  }

  private val genGraph: Gen[Seq[(String, String, String)]] = {
    val subj = Gen.oneOf("s0", "s1", "s2", "s3", "s4")
    val value = Gen.oneOf("v0", "v1", "v2", "v3")
    val edge = for {
      s <- subj; p <- Gen.oneOf("p", "q", "r"); o <- value
    } yield (s, p, o)
    Gen.chooseNum(4, 16).flatMap(n => Gen.listOfN(n, edge)).map(_.distinct)
  }

  test("property: OPTIONAL-keyed MINUS / NOT EXISTS / EXISTS match the §18.3 reference") {
    forAll(genGraph) { g =>
      val t = triples(g: _*)
      // engine solutions of the base group { ?s <p> ?o OPTIONAL { ?s <q> ?v } }
      val base: Seq[Map[String, String]] = g.collect { case (s, "p", o) => (s, o) }
        .flatMap { case (s, o) =>
          val vs = g.collect { case (`s`, "q", v) => v }
          if (vs.isEmpty) Seq(Map("s" -> s, "o" -> o))
          else vs.map(v => Map("s" -> s, "o" -> o, "v" -> v))
        }
      val block: Seq[Map[String, String]] =
        g.collect { case (z, "r", v) => Map("z" -> z, "v" -> v) }
      def runQ(op: String): Seq[String] = rowsOf(Sparql.run(t,
        s"SELECT ?s ?v WHERE { ?s <p> ?o . OPTIONAL { ?s <q> ?v } $op { ?z <r> ?v } }")).sorted
      def show(m: Map[String, String]): String =
        m.getOrElse("s", "∅") + "," + m.getOrElse("v", "∅")
      val minusRef = base.filterNot(mu => block.exists(mp =>
        compatible(mu, mp) && mu.keySet.intersect(mp.keySet).nonEmpty))
      assert(runQ("MINUS") === minusRef.map(show).sorted, s"MINUS over $g")
      val notExistsRef = base.filterNot(mu => block.exists(compatible(mu, _)))
      assert(runQ("FILTER NOT EXISTS") === notExistsRef.map(show).sorted,
        s"NOT EXISTS over $g")
      val existsRef = base.filter(mu => block.exists(compatible(mu, _)))
      assert(runQ("FILTER EXISTS") === existsRef.map(show).sorted,
        s"EXISTS over $g")
    }
  }

  test("property: right-nullable OPTIONAL / MINUS match the §18.3 reference") {
    forAll(genGraph) { g =>
      val t = triples(g: _*)
      val base: Seq[Map[String, String]] =
        g.collect { case (s, "p", v) => Map("s" -> s, "v" -> v) }
      // block { ?s <q> ?k OPTIONAL { ?k <r> ?v } }: ?v maybe-unbound
      val block: Seq[Map[String, String]] =
        g.collect { case (s, "q", k) => (s, k) }.flatMap { case (s, k) =>
          val vs = g.collect { case (`k`, "r", v) => v }
          if (vs.isEmpty) Seq(Map("s" -> s, "k" -> k))
          else vs.map(v => Map("s" -> s, "k" -> k, "v" -> v))
        }
      val gotOpt = rowsOf(Sparql.run(t,
        "SELECT ?s ?v ?k WHERE { ?s <p> ?v . OPTIONAL { ?s <q> ?k . OPTIONAL { ?k <r> ?v } } }")).sorted
      def show(m: Map[String, String]): String =
        Seq("s", "v", "k").map(m.getOrElse(_, "∅")).mkString(",")
      val refOpt = base.flatMap { mu =>
        val ext = block.filter(compatible(mu, _)).map(mu ++ _)
        if (ext.isEmpty) Seq(mu) else ext
      }
      assert(gotOpt === refOpt.map(show).sorted, s"right-nullable OPTIONAL over $g")
      val gotMinus = rowsOf(Sparql.run(t,
        "SELECT ?s ?v WHERE { ?s <p> ?v . MINUS { ?s <q> ?k . OPTIONAL { ?k <r> ?v } } }")).sorted
      val refMinus = base.filterNot(mu => block.exists(mp =>
        compatible(mu, mp) && mu.keySet.intersect(mp.keySet).nonEmpty))
      assert(gotMinus === refMinus.map(m =>
        Seq("s", "v").map(m.getOrElse(_, "∅")).mkString(",")).sorted,
        s"right-nullable MINUS over $g")
    }
  }

  test("property: k=5 maybe-unbound join vars route through the residual fallback, all kinds") {
    // five OPTIONAL-introduced vars shared with the operator block —
    // beyond the 2^4 strata budget, so compatJoin's residual path runs
    val vals = Seq("v0", "v1")
    val genK5: Gen[Seq[(String, String, String)]] = {
      val edge = for {
        s <- Gen.oneOf("s0", "s1", "s2", "z0", "z1")
        p <- Gen.oneOf("p", "q1", "q2", "q3", "q4", "q5",
          "m1", "m2", "m3", "m4", "m5")
        o <- Gen.oneOf(vals)
      } yield (s, p, o)
      Gen.chooseNum(18, 36).flatMap(n => Gen.listOfN(n, edge)).map(es =>
        // guarantee ≥1 full block row and ≥1 base row
        (es ++ Seq(("z0", "m1", "v0"), ("z0", "m2", "v0"), ("z0", "m3", "v0"),
          ("z0", "m4", "v1"), ("z0", "m5", "v1"), ("s0", "p", "v0"))).distinct)
    }
    val vNames = (1 to 5).map(i => s"v$i")
    forAll(genK5, cases = 6) { g =>
      val t = triples(g: _*)
      val base: Seq[Map[String, String]] =
        g.collect { case (s, "p", o) => (s, o) }.flatMap { case (s, o) =>
          vNames.zipWithIndex.foldLeft(Seq(Map("s" -> s, "o" -> o))) {
            case (sols, (vn, i)) =>
              val qi = s"q${i + 1}"
              sols.flatMap { mu =>
                val vs = g.collect { case (`s`, `qi`, v) => v }
                if (vs.isEmpty) Seq(mu) else vs.map(v => mu + (vn -> v))
              }
          }
        }
      val block: Seq[Map[String, String]] = {
        val zs = g.map(_._1).distinct
        zs.flatMap { z =>
          vNames.zipWithIndex.foldLeft(Seq(Map("z" -> z))) {
            case (sols, (vn, i)) =>
              val mi = s"m${i + 1}"
              sols.flatMap { mu =>
                g.collect { case (`z`, `mi`, v) => v }.map(v => mu + (vn -> v))
              }
          }
        }
      }
      val opts = (1 to 5).map(i => s"OPTIONAL { ?s <q$i> ?v$i }").mkString(" ")
      val blockPats = (1 to 5).map(i => s"?z <m$i> ?v$i .").mkString(" ")
      def show(m: Map[String, String], cols: Seq[String]): String =
        cols.map(m.getOrElse(_, "∅")).mkString(",")
      val outCols = "s" +: vNames
      val sel = "?s " + vNames.map("?" + _).mkString(" ")
      // inner join
      val gotInner = rowsOf(Sparql.run(t,
        s"SELECT $sel WHERE { ?s <p> ?o . $opts $blockPats }")).sorted
      val refInner = for { mu <- base; mp <- block if compatible(mu, mp) }
        yield mu ++ mp
      assert(gotInner === refInner.map(show(_, outCols)).sorted, s"k5 inner over $g")
      // OPTIONAL (LeftJoin)
      val gotOpt = rowsOf(Sparql.run(t,
        s"SELECT $sel WHERE { ?s <p> ?o . $opts OPTIONAL { $blockPats } }")).sorted
      val refOpt = base.flatMap { mu =>
        val ext = block.filter(compatible(mu, _)).map(mu ++ _)
        if (ext.isEmpty) Seq(mu) else ext
      }
      assert(gotOpt === refOpt.map(show(_, outCols)).sorted, s"k5 OPTIONAL over $g")
      // MINUS / NOT EXISTS / EXISTS
      def runOp(op: String): Seq[String] = rowsOf(Sparql.run(t,
        s"SELECT $sel WHERE { ?s <p> ?o . $opts $op { $blockPats } }")).sorted
      val refMinus = base.filterNot(mu => block.exists(mp =>
        compatible(mu, mp) && mu.keySet.intersect(mp.keySet).nonEmpty))
      assert(runOp("MINUS") === refMinus.map(show(_, outCols)).sorted,
        s"k5 MINUS over $g")
      val refNE = base.filterNot(mu => block.exists(compatible(mu, _)))
      assert(runOp("FILTER NOT EXISTS") === refNE.map(show(_, outCols)).sorted,
        s"k5 NOT EXISTS over $g")
      val refE = base.filter(mu => block.exists(compatible(mu, _)))
      assert(runOp("FILTER EXISTS") === refE.map(show(_, outCols)).sorted,
        s"k5 EXISTS over $g")
      // cross-scope condition at k=5: the residual fallback must carry
      // it on the join (it was a hard reject through r15). Three-arg
      // LeftJoin reference: expr evaluates over merge(μ, μ')
      def condHolds(mu: Map[String, String], mp: Map[String, String]) =
        mu("o") != (mu ++ mp)("v1")
      val gotCondOpt = rowsOf(Sparql.run(t,
        s"SELECT $sel WHERE { ?s <p> ?o . $opts OPTIONAL { $blockPats FILTER(?o != ?v1) } }")).sorted
      val refCondOpt = base.flatMap { mu =>
        val ext = block.filter(mp => compatible(mu, mp) && condHolds(mu, mp))
          .map(mu ++ _)
        if (ext.isEmpty) Seq(mu) else ext
      }
      assert(gotCondOpt === refCondOpt.map(show(_, outCols)).sorted,
        s"k5 OPTIONAL+cond over $g")
      val gotCondE = rowsOf(Sparql.run(t,
        s"SELECT $sel WHERE { ?s <p> ?o . $opts FILTER EXISTS { $blockPats FILTER(?o != ?v1) } }")).sorted
      val refCondE = base.filter(mu =>
        block.exists(mp => compatible(mu, mp) && condHolds(mu, mp)))
      assert(gotCondE === refCondE.map(show(_, outCols)).sorted,
        s"k5 EXISTS+cond over $g")
    }
  }

  test("BGP top-k pushdown: pruned plans match the full-sort prefix; cyclic/filtered shapes gate") {
    // star around ?n — the customers×suppliers-per-nation shape
    val t = triples(
      ("c1","fromNation","n1"),("c2","fromNation","n1"),("c3","fromNation","n2"),
      ("c4","fromNation","n3"),
      ("s1","suppliesFrom","n1"),("s2","suppliesFrom","n1"),("s3","suppliesFrom","n2"))
    val body = "SELECT ?c ?s WHERE { ?c <fromNation> ?n . ?s <suppliesFrom> ?n } ORDER BY ?c ?s"
    def firstK(q: String, k: Int): Seq[String] =
      rowsOf(Sparql.run(t, q)).take(k)  // rowsOf preserves ORDER BY order
    val lim = Sparql.run(t, body + " LIMIT 3")
    assert(lim.queryExecution.optimizedPlan.toString.contains("__kth"),
      "BGP pushdown did not install")
    assert(rowsOf(lim) === firstK(body, 3))
    // c4's nation has no supplier: it must not occupy a threshold slot
    val lim2 = Sparql.run(t, body + " LIMIT 4")
    assert(rowsOf(lim2) === firstK(body, 4))
    // DESC + OFFSET
    val bodyD = "SELECT ?c ?s WHERE { ?c <fromNation> ?n . ?s <suppliesFrom> ?n } ORDER BY DESC(?c) ?s"
    assert(rowsOf(Sparql.run(t, bodyD + " OFFSET 1 LIMIT 2")) === firstK(bodyD, 3).drop(1))
    // single-var FILTER folds into the matched walk
    val bodyF = "SELECT ?c ?s WHERE { ?c <fromNation> ?n . ?s <suppliesFrom> ?n . " +
      "FILTER(?s != \"s1\") } ORDER BY ?c ?s"
    val limF = Sparql.run(t, bodyF + " LIMIT 2")
    assert(limF.queryExecution.optimizedPlan.toString.contains("__kth"))
    assert(rowsOf(limF) === firstK(bodyF, 2))
    // multi-var FILTER → bail, values still right
    val bodyX = "SELECT ?c ?s WHERE { ?c <fromNation> ?n . ?s <suppliesFrom> ?n . " +
      "FILTER(?c < ?s) } ORDER BY ?c ?s"
    val limX = Sparql.run(t, bodyX + " LIMIT 2")
    assert(!limX.queryExecution.optimizedPlan.toString.contains("__kth"))
    assert(rowsOf(limX) === firstK(bodyX, 2))
    // cyclic BGP (triangle) → bail, values still right
    val tc = triples(("a","p","b"),("b","q","c"),("a","r","c"),("a","p","x"))
    val cyc = "SELECT ?x ?y ?z WHERE { ?x <p> ?y . ?y <q> ?z . ?x <r> ?z } ORDER BY ?x ?y ?z"
    val limC = Sparql.run(tc, cyc + " LIMIT 1")
    assert(!limC.queryExecution.optimizedPlan.toString.contains("__kth"))
    assert(rowsOf(limC) === Seq("a,b,c"))
    // DISTINCT installs (distinct-f threshold; sort var projected) and
    // matches the full prefix; aggregation / OPTIONAL shapes never do
    val dBody = "SELECT DISTINCT ?c WHERE { ?c <fromNation> ?n . ?s <suppliesFrom> ?n } ORDER BY ?c"
    val dLim = Sparql.run(t, dBody + " LIMIT 2")
    assert(dLim.queryExecution.optimizedPlan.toString.contains("__kth"))
    assert(rowsOf(dLim) === firstK(dBody, 2))
    assert(!Sparql.run(t,
      "SELECT ?c ?s WHERE { ?c <fromNation> ?n . OPTIONAL { ?s <suppliesFrom> ?n } } ORDER BY ?c LIMIT 2")
      .queryExecution.optimizedPlan.toString.contains("__kth"))
  }

  test("BGP top-k pushdown over property-path frames: closure built once, pruned = full prefix") {
    // chain a <knows>+ closure into a pattern: relations {a,b}, {b,c}
    // — acyclic, the path frame is an exact relation for GYO
    val t = triples(
      ("u1","knows","u2"),("u2","knows","u3"),("u4","knows","u1"),
      ("u1","worksAt","acme"),("u2","worksAt","bbb"),("u3","worksAt","ccc"),
      ("u5","worksAt","ddd"))
    val body = "SELECT ?a ?c WHERE { ?a <knows>+ ?b . ?b <worksAt> ?c } ORDER BY ?c ?a"
    def firstK(q: String, k: Int): Seq[String] = rowsOf(Sparql.run(t, q)).take(k)
    val lim = Sparql.run(t, body + " LIMIT 2")
    assert(lim.queryExecution.optimizedPlan.toString.contains("__kth"),
      "path BGP pushdown did not install")
    assert(rowsOf(lim) === firstK(body, 2))
    // sort var bound by the PATH frame itself — the closure is pruned
    val body2 = "SELECT ?a ?c WHERE { ?a <knows>+ ?b . ?b <worksAt> ?c } ORDER BY DESC(?a) ?c"
    val lim2 = Sparql.run(t, body2 + " LIMIT 3")
    assert(lim2.queryExecution.optimizedPlan.toString.contains("__kth"))
    assert(rowsOf(lim2) === firstK(body2, 3))
    // zero-or-more with both endpoints variable (domain = every term)
    val body3 = "SELECT ?a ?b WHERE { ?a <knows>* ?b . ?b <worksAt> ?c } ORDER BY ?b ?a"
    assert(rowsOf(Sparql.run(t, body3 + " LIMIT 4")) === firstK(body3, 4))
  }

  test("property: path-frame top-k pushdown matches the unlimited sort prefix on random graphs") {
    val gen: Gen[Seq[(String, String, String)]] = {
      val nodes = (0 until 8).map(i => s"n$i")
      val edge = for {
        s <- Gen.oneOf(nodes); o <- Gen.oneOf(nodes)
        p <- Gen.frequency(3 -> Gen.const("k"), 2 -> Gen.const("w"))
      } yield (s, p, o)
      Gen.chooseNum(6, 20).flatMap(n => Gen.listOfN(n, edge)).map(_.distinct)
    }
    forAll(gen, cases = 8) { g =>
      if (g.nonEmpty) {
        val t = triples(g: _*)
        for (body <- Seq(
          "SELECT ?a ?c WHERE { ?a <k>+ ?b . ?b <w> ?c } ORDER BY ?c ?a ?b",
          "SELECT ?a ?c WHERE { ?a <k>* ?b . ?b <w> ?c } ORDER BY DESC(?a) ?c ?b")) {
          val full = rowsOf(Sparql.run(t, body))
          val k = math.min(3, full.size).max(1)
          assert(rowsOf(Sparql.run(t, s"$body LIMIT $k")) === full.take(k),
            s"path top-k mismatch for '$body' over $g")
        }
      }
    }
  }

  test("property: BGP top-k pushdown matches the unlimited sort prefix on random graphs") {
    // random stars and chains; every (shape, k, direction) compares the
    // pruned LIMIT plan against the full ordered result's prefix
    val gen: Gen[Seq[(String, String, String)]] = {
      val subj = Gen.oneOf("a0", "a1", "a2", "a3", "a4", "b0", "b1", "b2")
      val edge = for {
        s <- subj; p <- Gen.oneOf("p", "q", "r"); o <- Gen.oneOf(subj, Gen.oneOf("v0", "v1"))
      } yield (s, p, o)
      Gen.chooseNum(8, 24).flatMap(n => Gen.listOfN(n, edge)).map(_.distinct)
    }
    val shapes = Seq(
      // star: two patterns share the middle var
      "SELECT ?x ?y WHERE { ?x <p> ?m . ?y <q> ?m } ORDER BY %s ?y",
      // chain of three
      "SELECT ?x ?z WHERE { ?x <p> ?m . ?m <q> ?n . ?n <r> ?z } ORDER BY %s ?z",
      // sort var in the middle pattern
      "SELECT ?x ?m WHERE { ?x <p> ?m . ?m <q> ?n } ORDER BY %s ?x")
    val sortVarOf = Seq("?x", "?x", "?m")
    forAll(gen, cases = 5) { g =>
      val t = triples(g: _*)
      for ((tpl, i) <- shapes.zipWithIndex; desc <- Seq(false, true); k <- Seq(1, 3, 7)) {
        val sv = sortVarOf(i)
        val body = tpl.format(if (desc) s"DESC($sv)" else sv)
        val full = rowsOf(Sparql.run(t, body))
        val got = rowsOf(Sparql.run(t, s"$body LIMIT $k"))
        assert(got === full.take(k),
          s"BGP top-k mismatch: $body LIMIT $k over $g")
      }
    }
  }

  test("property: union-with-unbound inner join matches the §18.3 merge reference") {
    forAll(genGraph) { g =>
      val t = triples(g: _*)
      // { { ?x <p> ?y } UNION { ?x2 <q> ?y } } ?y <r> ?w  — branch 2
      // leaves ?x unbound (renamed ?x2 keeps it off the union surface)
      val got = rowsOf(Sparql.run(t,
        "SELECT ?x ?y ?w WHERE { { ?x <p> ?y } UNION { ?x2 <q> ?y } ?y <r> ?w }")).sorted
      val branches: Seq[Map[String, String]] =
        g.collect { case (x, "p", y) => Map("x" -> x, "y" -> y) } ++
          g.collect { case (x2, "q", y) => Map("x2" -> x2, "y" -> y) }
      val pats: Seq[Map[String, String]] =
        g.collect { case (y, "r", w) => Map("y" -> y, "w" -> w) }
      val ref = for {
        mu <- branches; mp <- pats if compatible(mu, mp)
      } yield (mu ++ mp)
      def show(m: Map[String, String]): String =
        Seq("x", "y", "w").map(m.getOrElse(_, "∅")).mkString(",")
      assert(got === ref.map(show).sorted, s"union compat join over $g")
    }
  }

  test("blank nodes: scoped variables in WHERE, skolemized fresh-per-solution in CONSTRUCT") {
    val t = triples(("a","p","m1"),("b","p","m2"),("m1","q","x"),("m2","q","x"),("c","p","z"))
    // WHERE bnode = non-projectable variable (§4.1.4): joins through the
    // middle node without surfacing it
    assert(rowsOf(Sparql.run(t,
      "SELECT ?s ?o WHERE { ?s <p> _:m . _:m <q> ?o }")).sorted ===
      Seq("a,x", "b,x"))
    // CONSTRUCT bnode: one fresh node PER SOLUTION, shared across the
    // template's triples — (a,x) and (b,x) must get DIFFERENT ids, and
    // each id must appear in both its hasMid and midOf triples
    val g = Sparql.run(t,
      "CONSTRUCT { ?s <hasMid> _:n . _:n <midOf> ?o . } WHERE { ?s <p> ?m . ?m <q> ?o }")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val mids = g.collect { case (_, "hasMid", o) => o }.toSet
    assert(mids.size === 2, s"fresh bnode per solution: $mids")
    assert(mids.forall(_.startsWith("_:n-")))
    assert(g.collect { case (s, "midOf", o) => (s, o) }.toSet ===
      mids.map(m => (m, "x")), "shared id within a solution's template")
  }

  test("BNODE(): fresh per solution and per alias; BNODE(str) shared within a solution") {
    val t = triples(("a","p","1"),("b","p","2"))
    val rows = Sparql.run(t,
      """SELECT ?s ?b1 ?b2 ?k1 ?k2 WHERE {
        |  ?s <p> ?o .
        |  BIND(BNODE() AS ?b1)
        |  BIND(BNODE() AS ?b2)
        |  BIND(BNODE("x") AS ?k1)
        |  BIND(BNODE("x") AS ?k2)
        |}""".stripMargin).collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      val Seq(b1, b2, k1, k2) = Seq(1, 2, 3, 4).map(r.getString)
      assert(Seq(b1, b2, k1, k2).forall(_.startsWith("_:")))
      assert(b1 !== b2, "no-arg BNODE differs across aliases")
      assert(k1 === k2, "BNODE(str) is the within-solution map: same str, same node")
    }
    // fresh across solutions
    assert(rows.map(_.getString(1)).distinct.length === 2)
    assert(rows.map(_.getString(3)).distinct.length === 2)
  }

  test("§17.4.5 datetime accessors: lexical parse, TZ forms, type-error → unbound") {
    val t = triples(
      ("a", "at", "1996-03-07T09:45:07.25Z"),
      ("b", "at", "2001-11-30T23:05:59+05:30"),
      ("c", "at", "1999-01-02"),        // date only: time accessors unbound, TZ ""
      ("d", "at", "not-a-date"),        // type error: everything unbound
      ("e", "at", "REPORT12:30:45"))    // 'T12:' inside a non-dateTime: STILL unbound
                                        // (time accessors anchor to the full date prefix)
    assert(rowsOf(Sparql.run(t,
      """SELECT ?s ?y ?m ?day ?h ?min ?sec ?tz WHERE {
        |  ?s <at> ?d .
        |  BIND(YEAR(?d) AS ?y) BIND(MONTH(?d) AS ?m) BIND(DAY(?d) AS ?day)
        |  BIND(HOURS(?d) AS ?h) BIND(MINUTES(?d) AS ?min)
        |  BIND(SECONDS(?d) AS ?sec) BIND(TZ(?d) AS ?tz)
        |} ORDER BY ?s""".stripMargin)) ===
      Seq("a,1996,3,7,9,45,7.25,Z",
        "b,2001,11,30,23,5,59.0,+05:30",
        "c,1999,1,2,∅,∅,∅,",
        "d,∅,∅,∅,∅,∅,∅,∅",
        "e,∅,∅,∅,∅,∅,∅,∅"))
    // accessors carry the numeric view: FILTER compares numerically
    assert(rowsOf(Sparql.run(t,
      "SELECT ?s WHERE { ?s <at> ?d . FILTER(YEAR(?d) < 2000) } ORDER BY ?s"))
      === Seq("a", "c"))
    // TIMEZONE (§17.4.5.7): xsd:dayTimeDuration lexical forms; NO
    // timezone is a type error (unlike TZ's ""), as is a non-dateTime
    val t2 = triples(
      ("a", "at", "1996-03-07T09:45:07.25Z"),       // → PT0S
      ("b", "at", "2001-11-30T23:05:59+05:30"),     // → PT5H30M
      ("c", "at", "2001-11-30T23:05:59-08:00"),     // → -PT8H
      ("d", "at", "2001-11-30T23:05:59+00:30"),     // → PT30M
      ("e", "at", "2001-11-30T23:05:59-00:00"),     // → PT0S
      ("f", "at", "1999-01-02"),                    // no tz: unbound
      ("g", "at", "not-a-date"))                    // type error: unbound
    assert(rowsOf(Sparql.run(t2,
      """SELECT ?s ?dur WHERE { ?s <at> ?d . BIND(TIMEZONE(?d) AS ?dur) }
        |ORDER BY ?s""".stripMargin)) ===
      Seq("a,PT0S", "b,PT5H30M", "c,-PT8H", "d,PT30M", "e,PT0S", "f,∅", "g,∅"))
  }

  test("isBlank: true exactly for blank nodes; plain terms and unbound never match") {
    val t = triples(("a", "k", "x"), ("b", "k", "y"))
    // BNODE-bound variables are blank → both solutions pass the filter
    assert(rowsOf(Sparql.run(t,
      """SELECT ?s WHERE { ?s <k> ?v . BIND(BNODE() AS ?n) FILTER(isBlank(?n)) }
        |ORDER BY ?s""".stripMargin)) === Seq("a", "b"))
    // plain lexical terms are not blank
    assert(rowsOf(Sparql.run(t,
      "SELECT ?s WHERE { ?s <k> ?v . FILTER(isBlank(?v)) }")) === Seq.empty)
    // negated form keeps them all
    assert(rowsOf(Sparql.run(t,
      "SELECT ?s WHERE { ?s <k> ?v . FILTER(!isBlank(?v)) } ORDER BY ?s"))
      === Seq("a", "b"))
  }

  test("sameTerm is strict term identity; IRI/URI are the lexical identity") {
    val t = triples(("a", "k", "1"), ("b", "k", "01"), ("c", "k", "2"))
    // `=` coerces through the numeric view: "1" = "01" numerically
    assert(rowsOf(Sparql.run(t,
      """SELECT ?s WHERE { ?s <k> ?v . FILTER(?v = 01) } ORDER BY ?s"""))
      === Seq("a", "b"))
    // sameTerm does not coerce: only the exact lexical form matches
    assert(rowsOf(Sparql.run(t,
      """SELECT ?s WHERE { ?s <k> ?v . FILTER(sameTerm(?v, "1")) } ORDER BY ?s"""))
      === Seq("a"))
    assert(rowsOf(Sparql.run(t,
      """SELECT ?u WHERE { ?s <k> ?v . FILTER(sameTerm(?v, "2")) BIND(IRI(?s) AS ?u) }"""))
      === Seq("c"))
  }

  test("Kleene local regime parity: forced-distributed fixpoint " +
      "(localRegimes kill-switch) matches the local replay") {
    val t = triples(("a","knows","b"),("b","knows","c"),("c","knows","d"),
      ("b","knows","a"),("d","other","e"),("e","knows","e"))
    val qs = Seq(
      "SELECT ?x ?y WHERE { ?x <knows>+ ?y }",           // var–var closure
      "SELECT ?y WHERE { <a> <knows>* ?y }",             // const subject, zero incl.
      "SELECT ?x WHERE { ?x <knows>+ <d> }",             // const object
      "SELECT ?y WHERE { <a> (<knows>|<other>)+ ?y }")   // alternation step
    for (q <- qs) {
      val local = rowsOf(Sparql.run(t, q)).sorted
      val off = withLocalRegimesOff(rowsOf(Sparql.run(t, q)).sorted)
      assert(off === local, s"kill-switch: $q")
    }
  }
}
