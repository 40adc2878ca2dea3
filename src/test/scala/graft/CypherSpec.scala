package graft

import org.apache.spark.sql.functions._

import graft.cypher.{Cypher, CypherParseException, Procedures}
import graft.model.PropertyGraph
import graft.sources.GraphSources

/**
 * Cypher engine spec over the reference's golden fixture graph
 * (20 nodes / 100 edges, loaded undirected — reference
 * `integration_workflow_cypher.py` scenarios). Expected values are either
 * reference goldens (avg = 4.5, BASELINE.md) or computed independently
 * with raw DataFrame ops on the same fixture.
 */
class CypherSpec extends SparkSpec {

  val fixtureJson = "/root/reference/tests/integration/env_init/data/graph_with_properties.txt"
  lazy val g: PropertyGraph = GraphSources.readJsonEdges(spark, fixtureJson).cache()

  test("golden: MATCH (n) WHERE n.id < 10 RETURN avg(n.id) = 4.5") {
    val rows = Cypher.run(g, "MATCH (n) WHERE n.id < 10 RETURN avg(n.id) AS a").collect()
    assert(rows.length === 1)
    assert(rows(0).getDouble(0) === 4.5)
  }

  test("AllNodeScan: MATCH (n) RETURN n yields 20 entity rows") {
    val df = Cypher.run(g, "MATCH (n) RETURN n")
    assert(df.count() === 20L)
    val json = Cypher.toJsonRows(Cypher.run(g, "MATCH (n) WHERE n.id = '2' RETURN n")).collect()
    assert(json.length === 1)
    assert(json(0).getString(0).contains("\"name\":\"Charlie\""))
  }

  test("projection of a missing property returns null (reference: JSON null)") {
    val rows = Cypher.run(g, "MATCH (n) WHERE n.id = '2' RETURN n.age AS age").collect()
    assert(rows.length === 1)
    assert(rows(0).isNullAt(0))
  }

  test("string filter: occupation = 'Artist' finds Fiona") {
    val rows = Cypher.run(g, "MATCH (n) WHERE n.occupation = 'Artist' RETURN n.name AS name").collect()
    assert(rows.map(_.getString(0)).toSet === Set("Fiona"))
  }

  test("numeric coercion: n.age > 20 matches only the node with age=25; non-numeric strings drop out") {
    val rows = Cypher.run(g, "MATCH (n) WHERE n.age > 20 RETURN n.name AS name").collect()
    assert(rows.map(_.getString(0)).toSet === Set("Fiona"))
    // occupation is non-numeric for everyone: coercion failure → no rows
    assert(Cypher.run(g, "MATCH (n) WHERE n.occupation > 20 RETURN n.name").count() === 0L)
  }

  test("label scan matches nodes.filter, incl. multi-label isin semantics") {
    val persons = Cypher.run(g, "MATCH (n:Person) RETURN n.id").count()
    val expected = g.nodes.where(col("label") === "Person").count()
    assert(persons === expected)
    val both = Cypher.run(g, "MATCH (n:Person:Location) RETURN n.id").count()
    assert(both === 20L) // label ∈ {Person, Location} — MultipleNodeScanByLabel
  }

  test("undirected relationship scan emits both orientations") {
    val rows = Cypher.run(g, "MATCH (a)-[r:NEIGHBORS]->(b) RETURN a.id AS s, b.id AS d").collect()
    val stored = g.edges.where(col("type") === "NEIGHBORS").count()
    assert(rows.length === 2 * stored)
    val pairs = rows.map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.exists { case (s, d) => pairs.contains((d, s)) })
  }

  test("directed expand on a directed graph follows arrows only") {
    val dg = PropertyGraph(g.nodes, g.edges, isDirected = true)
    val out = Cypher.run(dg, "MATCH (a)-[r]->(b) RETURN a.id, b.id").count()
    assert(out === g.edges.count())
    val in = Cypher.run(dg, "MATCH (a)<-[r]-(b) RETURN a.id, b.id").count()
    assert(in === g.edges.count())
    val both = Cypher.run(dg, "MATCH (a)-[r]-(b) RETURN a.id, b.id").count()
    assert(both === 2 * g.edges.count())
  }

  test("2-hop expand with hop-uniqueness: consecutive hops never reuse an edge") {
    val rows = Cypher.run(g,
      "MATCH (a)-[r1]-(b)-[r2]-(c) RETURN a.id AS a, b.id AS b, c.id AS c").count()
    // independent oracle on oriented edges with eid inequality
    val e = g.orientedEdges.select(col("src"), col("dst"), col("eid"))
    val expected = e.as("x").join(e.as("y"),
      col("x.dst") === col("y.src") && col("x.eid") =!= col("y.eid")).count()
    assert(rows === expected)
    assert(rows > 0)
  }

  test("relationship-type expand matches filtered join") {
    val rows = Cypher.run(g,
      "MATCH (a)-[r:WORKS_AT]->(b) RETURN a.name AS n, b.name AS w").count()
    val expected = 2 * g.edges.where(col("type") === "WORKS_AT").count()
    assert(rows === expected)
  }

  test("ORDER BY with SKIP/LIMIT is deterministic and sliced") {
    val all = Cypher.run(g,
      "MATCH (n:Person) RETURN n.name AS name ORDER BY n.name").collect().map(_.getString(0))
    assert(all.sorted.toSeq === all.toSeq)
    val sliced = Cypher.run(g,
      "MATCH (n:Person) RETURN n.name AS name ORDER BY n.name SKIP 2 LIMIT 3")
      .collect().map(_.getString(0))
    assert(sliced.toSeq === all.slice(2, 5).toSeq)
  }

  test("ORDER BY numeric via toFloat vs lexical string sort differ") {
    val lex = Cypher.run(g, "MATCH (n) RETURN n.id AS id ORDER BY n.id").collect().map(_.getString(0))
    val num = Cypher.run(g, "MATCH (n) RETURN n.id AS id ORDER BY toFloat(n.id)").collect().map(_.getString(0))
    assert(lex.toSeq === lex.sorted.toSeq)
    assert(num.map(_.toInt).toSeq === num.map(_.toInt).sorted.toSeq)
    assert(lex.toSeq !== num.toSeq) // "10" < "2" lexically
  }

  test("DISTINCT performs real deduplication (reference's is a no-op — divergence)") {
    val d = Cypher.run(g, "MATCH (n:Person) RETURN DISTINCT n.occupation AS o").count()
    val expected = g.nodes.where(col("label") === "Person")
      .select(element_at(col("properties"), "occupation")).distinct().count()
    assert(d === expected)
  }

  test("boolean ops: correct NOT (reference bug diverged), XOR, IN, STARTS WITH, CONTAINS, IS NULL") {
    val notArtist = Cypher.run(g,
      "MATCH (n:Person) WHERE NOT n.occupation = 'Artist' RETURN n.name").count()
    val persons = g.nodes.where(col("label") === "Person")
    val expected = persons.where(element_at(col("properties"), "occupation") =!= "Artist").count()
    assert(notArtist === expected)

    val xorRows = Cypher.run(g,
      "MATCH (n) WHERE n.label = 'Person' XOR n.category = 'Studio' RETURN n.id").count()
    assert(xorRows > 0)

    val inRows = Cypher.run(g,
      "MATCH (n) WHERE n.name IN ['Fiona', 'Ian'] RETURN n.id").count()
    assert(inRows === 2L)

    val sw = Cypher.run(g, "MATCH (n) WHERE n.name STARTS WITH 'F' RETURN n.name").collect()
    assert(sw.map(_.getString(0)).forall(_.startsWith("F")) && sw.nonEmpty)

    val ct = Cypher.run(g, "MATCH (n) WHERE n.name CONTAINS 'io' RETURN n.name").count()
    assert(ct > 0)

    val withoutAge = Cypher.run(g, "MATCH (n) WHERE n.age IS NULL RETURN n.id").count()
    val withAge = Cypher.run(g, "MATCH (n) WHERE n.age IS NOT NULL RETURN n.id").count()
    assert(withoutAge + withAge === 20L && withAge >= 1L)
  }

  test("id() point lookup and entity equality/inequality") {
    val byId = Cypher.run(g, "MATCH (n) WHERE id(n) = '7' RETURN n.id AS id").collect()
    assert(byId.map(_.getString(0)).toSeq === Seq("7"))
    val neq = Cypher.run(g,
      "MATCH (a)-[r1]-(b) WHERE a <> b RETURN a.id").count()
    assert(neq === g.orientedEdges.where(col("src") =!= col("dst")).count())
  }

  test("cartesian product of comma patterns (CartesianProduct operator)") {
    val rows = Cypher.run(g,
      "MATCH (a:Location), (b:Location) RETURN a.id, b.id").count()
    val locs = g.nodes.where(col("label") === "Location").count()
    assert(rows === locs * locs)
  }

  test("shared variable across patterns constrains instead of cartesian") {
    val viaPath = Cypher.run(g,
      "MATCH (a)-[r1:WORKS_AT]->(b), (a)-[r2:FRIENDS]->(c) RETURN a.id, b.id, c.id").count()
    val e = g.orientedEdges
    val works = e.where(col("type") === "WORKS_AT").select(col("src").as("a"), col("dst").as("b"))
    val friends = e.where(col("type") === "FRIENDS").select(col("src").as("a2"), col("dst").as("c"))
    val expected = works.join(friends, col("a") === col("a2")).count()
    assert(viaPath === expected)
  }

  test("grouped aggregation (parity-plus): count/sum/min/max per label") {
    val rows = Cypher.run(g,
      "MATCH (n) RETURN n.label AS l, count(n) AS c ORDER BY l").collect()
    val expected = g.nodes.groupBy(col("label")).count()
      .orderBy(col("label")).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq === expected.toSeq)

    val agg = Cypher.run(g,
      "MATCH (n) RETURN count(*) AS c, min(n.name) AS mn, max(n.name) AS mx, sum(n.age) AS s").collect()(0)
    assert(agg.getLong(0) === 20L)
    assert(agg.getDouble(3) === 25.0) // only Fiona has age
  }

  test("CREATE appends nodes and edges through the catalog path") {
    val (g2, _) = Cypher.execute(g,
      "CREATE (x:Person {id: '100', name: 'Zara'})-[:KNOWS {id: '999'}]->(y:Person {id: '101', name: 'Yuri'})")
    assert(g2.nodes.count() === 22L)
    assert(g2.edges.count() === 101L)
    val zara = Cypher.run(g2, "MATCH (n) WHERE n.id = '100' RETURN n.name AS name").collect()
    assert(zara.map(_.getString(0)).toSeq === Seq("Zara"))
    val knows = Cypher.run(g2, "MATCH (a)-[r:KNOWS]->(b) RETURN a.name, b.name").count()
    assert(knows === 2L) // undirected graph → both orientations
  }

  test("OPTIONAL MATCH left-joins and yields nulls for unmatched patterns") {
    // every Person, with their WORKS_AT target when present
    val rows = Cypher.run(g,
      "MATCH (a:Person) OPTIONAL MATCH (a)-[r:WORKS_AT]->(b) " +
        "RETURN a.name AS name, b.name AS works_at ORDER BY name").collect()
    val persons = g.nodes.where(col("label") === "Person").count()
    val workers = g.orientedEdges.where(col("type") === "WORKS_AT")
      .select(col("src")).distinct()
      .join(g.nodes.where(col("label") === "Person"), col("src") === col("id"))
    assert(rows.length >= persons) // ≥: multiple workplaces fan out
    val matched = rows.filter(!_.isNullAt(1)).map(_.getString(0)).toSet
    val unmatched = rows.filter(_.isNullAt(1)).map(_.getString(0)).toSet
    assert(matched.intersect(unmatched).isEmpty)
    assert((matched.size + unmatched.size).toLong ===
      g.nodes.where(col("label") === "Person")
        .select(element_at(col("properties"), "name")).distinct().count())
    assert(workers.count() === matched.size.toLong)

    // WHERE inside OPTIONAL MATCH restricts the optional side only
    val restricted = Cypher.run(g,
      "MATCH (a:Person) OPTIONAL MATCH (a)-[r:FRIENDS]-(b) WHERE b.label = 'Location' " +
        "RETURN a.id, b.id").count()
    assert(restricted >= persons)
  }

  test("UNWIND explodes lists into rows, alone and against matches") {
    val alone = Cypher.run(g, "UNWIND [1, 2, 3] AS x RETURN x ORDER BY x")
      .collect().map(_.getLong(0))
    assert(alone.toSeq === Seq(1L, 2L, 3L))
    val crossed = Cypher.run(g,
      "MATCH (n:Location) UNWIND ['a', 'b'] AS tag RETURN n.id, tag").count()
    assert(crossed === 2 * g.nodes.where(col("label") === "Location").count())
    // openCypher: UNWIND over null or the empty list yields zero rows
    assert(Cypher.run(g, "UNWIND null AS x RETURN x").count() === 0)
    assert(Cypher.run(g, "UNWIND [] AS x RETURN x").count() === 0)
  }

  test("unsupported-but-parsed constructs are rejected with a clear error") {
    // correlated per-row CALL after MATCH is not executable
    intercept[CypherParseException] { Cypher.run(g, "MATCH (n) CALL foo() RETURN n") }
    // mutations are directed to execute()
    intercept[CypherParseException] { Cypher.run(g, "MATCH (n) SET n.x = '1' RETURN n") }
    intercept[CypherParseException] { Cypher.run(g, "MATCH (n) DELETE n") }
  }

  test("scalar functions: string, numeric, coalesce (parity-plus)") {
    val r = Cypher.run(g,
      "MATCH (n) WHERE n.id = '10' RETURN toUpper(n.name) AS up, toLower(n.name) AS lo, " +
        "substring(n.name, 1) AS sub1, substring(n.name, 0, 3) AS sub2, " +
        "replace(n.name, 'F', 'Z') AS rep, reverse(n.name) AS rev, " +
        "coalesce(n.missing, n.name) AS co, abs(0 - n.age) AS ab, " +
        "sqrt(n.age * n.age) AS sq, round(n.age / 2) AS ro").collect()(0)
    assert(r.getString(0) === "FIONA")
    assert(r.getString(1) === "fiona")
    assert(r.getString(2) === "iona")   // 0-based substring
    assert(r.getString(3) === "Fio")
    assert(r.getString(4) === "Ziona")
    assert(r.getString(5) === "anoiF")
    assert(r.getString(6) === "Fiona")
    assert(r.getDouble(7) === 25.0)
    assert(r.getDouble(8) === 25.0)
    assert(r.getDouble(9) === 13.0)    // round(12.5) half-up
    // size() of a split list
    val sz = Cypher.run(g,
      "MATCH (n) WHERE n.id = '10' RETURN size(split(n.name, 'o')) AS parts").collect()(0)
    assert(sz.getInt(0) === 2)
  }

  test("CALL/YIELD invokes registered procedures and composes with the query") {
    // catalog procedures
    val labels = Cypher.run(g, "CALL db.labels() YIELD label RETURN label ORDER BY label")
      .collect().map(_.getString(0))
    assert(labels.toSeq === Seq("Location", "Person"))
    val types = Cypher.run(g, "CALL db.relationshipTypes() YIELD relationshipType " +
      "RETURN relationshipType ORDER BY relationshipType").count()
    assert(types > 0)

    // no YIELD binds every output column
    val counts = Cypher.run(g, "CALL graft.counts() RETURN vertices, edges").collect()(0)
    assert(counts.getLong(0) === g.vertexCount && counts.getLong(1) === g.edgeCount)

    // algorithm procedure with literal args; YIELD alias + downstream
    // filtering/ordering over the yielded scalars
    val pr = Cypher.run(g,
      "CALL graft.pageRank(0.85, 3) YIELD id, rank AS r RETURN id, r ORDER BY r DESC LIMIT 3")
      .collect()
    assert(pr.length === 3)
    val direct = graft.algorithms.GraphAlgorithms.pageRank(g, 0.85, 3)
      .orderBy(col("rank").desc, col("id")).limit(3).collect()
    assert(pr.map(_.getString(0)).toSet === direct.map(_.getString(0)).toSet)

    // YIELD of an unknown column and unknown procedures: clear errors
    intercept[CypherParseException] {
      Cypher.run(g, "CALL db.labels() YIELD nope RETURN nope")
    }
    intercept[CypherParseException] {
      Cypher.run(g, "CALL no.such.proc() RETURN x")
    }

    // round-6 algorithm built-ins through the Cypher surface
    val kc = Cypher.run(g, "CALL graft.kCore(1) YIELD id, degree RETURN id, degree").count()
    assert(kc > 0) // fixpoint form (no rounds arg)
    val lp = Cypher.run(g,
      "CALL graft.labelPropagation(2) YIELD id, label RETURN id, label").count()
    assert(lp === g.vertexCount)
    val cc = Cypher.run(g,
      "CALL graft.connectedComponents() YIELD id, component RETURN count(*) AS n")
      .collect()(0).getLong(0)
    assert(cc === g.vertexCount)
    // every component is labelled by its smallest member id
    val ccLabels = Cypher.run(g,
      "CALL graft.connectedComponents() YIELD id, component RETURN id, component").collect()
    assert(ccLabels.groupBy(_.getString(1)).forall { case (c, members) =>
      c == members.map(_.getString(0)).min })
    val coeff = Cypher.run(g,
      "CALL graft.clusteringCoefficients() YIELD id, triangles, coeff " +
        "RETURN id, coeff ORDER BY coeff DESC LIMIT 1").count()
    assert(coeff === 1)
    val egoBuiltin = Cypher.run(g,
      "CALL graft.egonet('10') YIELD src, dst RETURN src, dst").count()
    assert(egoBuiltin > 0)
    val bt = Cypher.run(g,
      "CALL graft.betweenness(4) YIELD id, betweenness " +
        "RETURN id, betweenness ORDER BY betweenness DESC LIMIT 1").collect()
    assert(bt.length === 1 && bt(0).getDouble(1) >= 0.0)

    // user-registered procedure
    Procedures.register("test.ego", (pg, args) =>
      graft.algorithms.GraphAlgorithms.egonet(pg, args.head.toString))
    val ego = Cypher.run(g, "CALL test.ego('10') YIELD src, dst RETURN src, dst").count()
    assert(ego > 0)
    Procedures.unregister("test.ego")
    intercept[CypherParseException] { Cypher.run(g, "CALL test.ego('10') RETURN src") }
    // built-ins cannot be shadowed or removed
    intercept[CypherParseException] {
      Procedures.register("db.labels", (pg, _) => pg.nodes)
    }
    intercept[CypherParseException] { Procedures.unregister("graft.pageRank") }
  }

  test("INTERSECT returns distinct rows present in both results, entities by id") {
    // scalar intersection with a real overlap
    val both = Cypher.intersect(g,
      "MATCH (n:Person) RETURN n.occupation AS occ",
      "MATCH (n:Person) WHERE n.age IS NOT NULL RETURN n.occupation AS occ")
      .collect().map(_.getString(0)).toSet
    assert(both === Set("Artist")) // Fiona is the only aged Person
    // entity intersection keys on id (struct contains a map)
    val ents = Cypher.intersect(g,
      "MATCH (n:Person) RETURN n",
      "MATCH (n) WHERE n.age IS NOT NULL RETURN n").collect()
    assert(ents.length === 1)
    // mismatched output columns rejected clearly
    intercept[CypherParseException] {
      Cypher.intersect(g, "MATCH (n) RETURN n.id AS a", "MATCH (n) RETURN n.id AS b")
    }
  }

  test("UNION dedups, UNION ALL concatenates") {
    val all = Cypher.run(g,
      "MATCH (n:Person) RETURN n.id AS id UNION ALL MATCH (n:Person) RETURN n.id AS id").count()
    val persons = g.nodes.where(col("label") === "Person").count()
    assert(all === 2 * persons)
    val dedup = Cypher.run(g,
      "MATCH (n:Person) RETURN n.id AS id UNION MATCH (n:Person) RETURN n.id AS id").count()
    assert(dedup === persons)
    val mixed = Cypher.run(g,
      "MATCH (n:Person) RETURN n.name AS x UNION MATCH (n:Location) RETURN n.name AS x").count()
    assert(mixed === 20L)
  }

  test("CASE expressions: searched and simple forms") {
    val rows = Cypher.run(g,
      "MATCH (n:Person) RETURN n.name AS name, " +
        "CASE WHEN n.age IS NOT NULL THEN 'aged' ELSE 'ageless' END AS kind ORDER BY name").collect()
    val byName = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byName("Fiona") === "aged")
    assert(byName.values.count(_ == "ageless") === byName.size - 1)

    val simple = Cypher.run(g,
      "MATCH (n) RETURN CASE n.label WHEN 'Person' THEN 1 WHEN 'Location' THEN 2 ELSE 0 END AS code, " +
        "count(*) AS c ORDER BY code").collect()
    assert(simple.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, g.nodes.where(col("label") === "Person").count()),
        (2L, g.nodes.where(col("label") === "Location").count())))
  }

  test("MERGE creates only when no node matches") {
    val before = g.vertexCount
    val (g2, _) = Cypher.execute(g, "MERGE (n:Person {id: '2'})") // Charlie exists
    assert(g2.vertexCount === before)
    val (g3, _) = Cypher.execute(g2, "MERGE (n:Person {id: '500', name: 'New'})")
    assert(g3.vertexCount === before + 1)
    val (g4, _) = Cypher.execute(g3, "MERGE (n:Person {id: '500', name: 'New'})") // idempotent
    assert(g4.vertexCount === before + 1)
  }

  test("MERGE matches with MATCH's coercion semantics (no literal-string duplicates)") {
    // Fiona (id 10) stores age as the string "25"; a MATCH with {age: 25.0}
    // finds her via numeric coercion, so MERGE must too — the old
    // raw-string comparison ("25" != "25.0") would re-create the node,
    // and with id-keyed upsert that would silently overwrite her.
    val before = g.vertexCount
    val (g2, _) = Cypher.execute(g, "MERGE (n {id: '10', age: 25.0})")
    assert(g2.vertexCount === before)
    val fiona = Cypher.run(g2, "MATCH (n) WHERE n.id = '10' RETURN n.name AS nm").collect()
    assert(fiona.length === 1 && fiona(0).getString(0) === "Fiona")
  }

  test("path MERGE: full pattern matched or created, no driver-side counting") {
    val (g1, _) = Cypher.execute(g, "CREATE (a:T {id: '800'})-[:LINKS]->(b:T {id: '801'})")
    val (v1, e1) = (g1.vertexCount, g1.edgeCount)
    // identical pattern exists → nothing added (existing edge not duplicated)
    val (g2, _) = Cypher.execute(g1, "MERGE (a:T {id: '800'})-[:LINKS]->(b:T {id: '801'})")
    assert(g2.vertexCount === v1 && g2.edgeCount === e1)
    // one endpoint missing → edge + missing endpoint created, existing reused
    val (g3, _) = Cypher.execute(g2, "MERGE (a:T {id: '800'})-[:LINKS]->(c:T {id: '802'})")
    assert(g3.vertexCount === v1 + 1 && g3.edgeCount === e1 + 1)
    // and the merged edge is idempotent
    val (g4, _) = Cypher.execute(g3, "MERGE (a:T {id: '800'})-[:LINKS]->(c:T {id: '802'})")
    assert(g4.vertexCount === v1 + 1 && g4.edgeCount === e1 + 1)
  }

  test("MERGE ON CREATE SET fires only when the pattern misses") {
    // pattern misses → node created WITH the ON CREATE properties
    val (g1, _) = Cypher.execute(g,
      "MERGE (n:Person {id: '600'}) ON CREATE SET n.status = 'created', n.rank = 7")
    val made = Cypher.run(g1,
      "MATCH (n) WHERE n.id = '600' RETURN n.status AS s, n.rank AS r").collect()(0)
    assert(made.getString(0) === "created" && made.getString(1) === "7")
    // pattern matches → ON CREATE does not fire
    val (g2, _) = Cypher.execute(g1,
      "MERGE (n:Person {id: '600'}) ON CREATE SET n.status = 'again'")
    val kept = Cypher.run(g2, "MATCH (n) WHERE n.id = '600' RETURN n.status AS s").collect()(0)
    assert(kept.getString(0) === "created")
  }

  test("MERGE ON MATCH SET fires only when the pattern matches") {
    // Charlie (id 2) exists → ON MATCH updates him, nothing created
    val before = g.vertexCount
    val (g1, _) = Cypher.execute(g,
      "MERGE (n:Person {id: '2'}) ON MATCH SET n.seen = 'yes' ON CREATE SET n.seen = 'no'")
    assert(g1.vertexCount === before)
    val charlie = Cypher.run(g1, "MATCH (n) WHERE n.id = '2' RETURN n.seen AS s").collect()(0)
    assert(charlie.getString(0) === "yes")
    // no other node gained the property
    assert(Cypher.run(g1, "MATCH (n) WHERE n.seen IS NOT NULL RETURN n.id").count() === 1L)
    // missing pattern with both arms → ON CREATE wins
    val (g2, _) = Cypher.execute(g1,
      "MERGE (n:Person {id: '601'}) ON MATCH SET n.seen = 'yes' ON CREATE SET n.seen = 'no'")
    val fresh = Cypher.run(g2, "MATCH (n) WHERE n.id = '601' RETURN n.seen AS s").collect()(0)
    assert(fresh.getString(0) === "no")
  }

  test("ON CREATE SET referencing a variable outside the MERGE pattern is rejected") {
    intercept[CypherParseException] {
      Cypher.execute(g, "MERGE (n:Person {id: '700'}) ON CREATE SET z.status = 'x'")
    }
  }

  test("correlated CALL compiles as a lateral join for whitelisted procedures") {
    // per-row degree: every Person row gains its out-degree column
    val rows = Cypher.run(g,
      "MATCH (n:Person) CALL graft.degree(n, 'out') YIELD degree " +
        "RETURN n.id AS id, degree ORDER BY id").collect()
    assert(rows.nonEmpty)
    val expected = graft.algorithms.GraphAlgorithms.outDegrees(g)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getLong(1) === expected(r.getString(0))))
    // single-row procedure attaches via broadcast cross join
    val counted = Cypher.run(g,
      "MATCH (n:Person) CALL graft.counts() YIELD vertices " +
        "RETURN n.id AS id, vertices ORDER BY id").collect()
    assert(counted.forall(_.getLong(1) === g.vertexCount))
    // non-whitelisted procedures after a binding clause stay rejected
    intercept[CypherParseException] {
      Cypher.run(g, "MATCH (n) CALL db.labels() YIELD label RETURN label")
    }
  }

  test("RETURN DISTINCT and UNION work on entity variables (dedup by id)") {
    // struct columns contain MAP<STRING,STRING>; a naive dropDuplicates
    // throws AnalysisException — entity dedup must key on id/eid
    val distinctEntities = Cypher.run(g, "MATCH (a)-[r]-(b) RETURN DISTINCT a").count()
    val distinctIds = Cypher.run(g, "MATCH (a)-[r]-(b) RETURN DISTINCT a.id").count()
    assert(distinctEntities === distinctIds)
    val persons = g.nodes.where(col("label") === "Person").count()
    val u = Cypher.run(g, "MATCH (n:Person) RETURN n UNION MATCH (n:Person) RETURN n").count()
    assert(u === persons)
    val rels = Cypher.run(g, "MATCH (a)-[r:FRIENDS]-(b) RETURN DISTINCT r").count()
    val eids = Cypher.run(g, "MATCH (a)-[r:FRIENDS]-(b) RETURN DISTINCT id(r)").count()
    assert(rels === eids)
  }

  test("mutation clauses read their own writes") {
    // RETURN after SET sees the updated value (not the match-time snapshot)
    val (_, res) = Cypher.execute(g,
      "MATCH (n) WHERE n.id = '2' SET n.age = 99 RETURN n.age AS a")
    assert(res.get.collect()(0).getString(0) === "99")
    // MATCH after CREATE scans the post-mutation graph
    val (_, res2) = Cypher.execute(g,
      "CREATE (x:Fresh {id: '900', name: 'Neo'}) MATCH (m:Fresh) RETURN m.name AS nm")
    assert(res2.get.collect().map(_.getString(0)).toSeq === Seq("Neo"))
    // chained SETs: the second reads the first's write
    val (_, res3) = Cypher.execute(g,
      "MATCH (n) WHERE n.id = '2' SET n.a = 5 SET n.b = n.a + 1 RETURN n.b AS b")
    assert(res3.get.collect()(0).getString(0) === "6.0")
  }

  test("nondeterministic ORDER BY shapes are rejected, not silently unstable") {
    // hidden sort key + DISTINCT: the key would survive dedup with an
    // arbitrary representative → openCypher rejects the shape outright
    intercept[CypherParseException] {
      Cypher.run(g, "MATCH (n) RETURN DISTINCT n.name ORDER BY n.age")
    }
    // aggregating query ordering by a non-returned expression: clear error
    // instead of a bare NoSuchElementException
    intercept[CypherParseException] {
      Cypher.run(g, "MATCH (n) RETURN n.label AS l, count(*) AS c ORDER BY n.name")
    }
  }

  test("SET updates, REMOVE drops, DELETE removes entities (snapshot semantics)") {
    // SET a property on one node; value expressions see the match row
    val (g2, _) = Cypher.execute(g,
      "MATCH (n) WHERE n.id = '2' SET n.age = 40, n.title = 'Eng'")
    val charlie = Cypher.run(g2, "MATCH (n) WHERE n.id = '2' RETURN n.age AS a, n.title AS t").collect()(0)
    assert(charlie.getString(0) === "40" && charlie.getString(1) === "Eng")
    assert(g2.vertexCount === 20L)

    // REMOVE drops the key
    val (g3, _) = Cypher.execute(g2, "MATCH (n) WHERE n.id = '2' REMOVE n.title")
    assert(Cypher.run(g3, "MATCH (n) WHERE n.title IS NOT NULL RETURN n.id").count() === 0L)

    // SET on a relationship variable
    val (g4, _) = Cypher.execute(g3,
      "MATCH (a)-[r:FRIENDS]-(b) WHERE a.id = '10' SET r.strength = 'high'")
    val marked = g4.edges.where(element_at(col("properties"), "strength") === "high").count()
    assert(marked > 0)

    // plain DELETE refuses on connected nodes; DETACH DELETE cascades.
    // The refusal is a PLAN-EMBEDDED guard (no DELETE-specific driver
    // action): it fires on the first materialization of the mutated
    // graph — under AQE that is the statement's own lineage-truncation
    // checkpoint inside execute(); without AQE it is the first user
    // action. The intercept spans both so the spec holds either way.
    val deleteErr = intercept[Exception] {
      val (gBad, _) = Cypher.execute(g4, "MATCH (n) WHERE n.id = '10' DELETE n")
      gBad.nodes.count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(deleteErr).exists(_.contains("DETACH DELETE")),
      s"expected the DELETE guard message, got: $deleteErr")
    val (g5, _) = Cypher.execute(g4, "MATCH (n) WHERE n.id = '10' DETACH DELETE n")
    assert(g5.vertexCount === 19L)
    assert(g5.edges.where(col("src") === "10" || col("dst") === "10").count() === 0L)

    // original graph untouched (immutability)
    assert(Cypher.run(g, "MATCH (n) WHERE n.id = '2' RETURN n.age").collect()(0).isNullAt(0))
  }

  test("WITH chains query parts: aggregation, post-filter, passthrough, re-MATCH") {
    // grouped aggregate + HAVING-style post-filter
    val occ = Cypher.run(g,
      "MATCH (n:Person) WITH n.occupation AS occ, count(*) AS cnt WHERE cnt > 1 " +
        "RETURN occ, cnt ORDER BY occ").collect()
    val expected = g.nodes.where(col("label") === "Person")
      .groupBy(element_at(col("properties"), "occupation").as("occ")).count()
      .where(col("count") > 1).orderBy(col("occ"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(occ.map(r => (r.getString(0), r.getLong(1))).toSeq === expected.toSeq)

    // entity passthrough keeps the variable usable downstream
    val names = Cypher.run(g,
      "MATCH (n:Person) WITH n WHERE n.occupation = 'Artist' RETURN n.name AS name").collect()
    assert(names.map(_.getString(0)).toSet === Set("Fiona"))

    // continue matching from a WITH-projected entity variable
    val twoPart = Cypher.run(g,
      "MATCH (a:Person) WITH a MATCH (a)-[r:WORKS_AT]->(b) RETURN a.name, b.name").count()
    val direct = Cypher.run(g,
      "MATCH (a:Person)-[r:WORKS_AT]->(b) RETURN a.name, b.name").count()
    assert(twoPart === direct && twoPart > 0)

    // scalar WITH binding participates in coercing comparisons
    val scaled = Cypher.run(g,
      "MATCH (n) WITH n.age AS age WHERE age > 20 RETURN age * 2 AS dbl").collect()
    assert(scaled.map(_.getDouble(0)).toSeq === Seq(50.0))
  }

  test("grouping by a bare entity variable groups on its id") {
    val rows = Cypher.run(g,
      "MATCH (a:Person)-[r]->(b) RETURN a, count(r) AS degree").collect()
    val expected = g.edges // directed arrow on undirected graph → both orientations
    assert(rows.length ===
      Cypher.run(g, "MATCH (a:Person)-[r]->(b) RETURN DISTINCT a.id").count())
    assert(rows.map(_.getLong(1)).sum > 0)
    assert(expected.count() > 0)
  }

  test("variable-length paths unroll to unions of fixed-length expansions") {
    // oracle: manual joins over oriented NEIGHBORS edges
    val e = g.orientedEdges.where(col("type") === "NEIGHBORS")
      .select(col("src"), col("dst"), col("eid"))
    val oneHop = e.where(col("src") === "4").count()
    val twoHop = e.where(col("src") === "4").select(col("dst").as("mid"), col("eid").as("e1"))
      .join(e, col("mid") === col("src"))
      .where(col("e1") =!= col("eid"))
      .count()

    val star1 = Cypher.run(g, "MATCH (a)-[:NEIGHBORS*1..1]-(b) WHERE a.id = '4' RETURN b.id").count()
    val star2 = Cypher.run(g, "MATCH (a)-[:NEIGHBORS*2]-(b) WHERE a.id = '4' RETURN b.id").count()
    val star12 = Cypher.run(g, "MATCH (a)-[:NEIGHBORS*1..2]-(b) WHERE a.id = '4' RETURN b.id").count()
    assert(star1 === oneHop)
    assert(star2 === twoHop)
    assert(star12 === oneHop + twoHop)
    // plain single hop ≡ *1..1
    assert(star1 === Cypher.run(g, "MATCH (a)-[:NEIGHBORS]-(b) WHERE a.id = '4' RETURN b.id").count())
    // binding the var-length relationship yields the traversed edge-
    // struct LIST: size(r) is the branch length, per-hop properties
    // read through a list comprehension, and the zero branch binds []
    val bound = Cypher.run(g,
      "MATCH (a)-[r:NEIGHBORS*1..2]-(b) WHERE a.id = '4' " +
        "RETURN size(r) AS n, [x IN r | type(x)] AS ts")
    assert(bound.count() === oneHop + twoHop)
    assert(bound.where(col("n") === 1).count() === oneHop)
    assert(bound.where(col("n") === 2).count() === twoHop)
    // every traversed hop carries the matched relationship type
    assert(bound.where(!forall(col("ts"), _ === "NEIGHBORS")).count() === 0)
    val zero = Cypher.run(g,
      "MATCH (a)-[r:NEIGHBORS*0..1]-(b) WHERE a.id = '4' " +
        "RETURN b.id AS bid, size(r) AS n")
    assert(zero.where(col("n") === 0).count() === 1) // the identity branch
    assert(zero.where(col("n") === 0).select("bid").head().getString(0) === "4")
    // inline property predicates constrain EVERY hop of the walk:
    // edge id '0' is the single 10—13 NEIGHBORS edge, so only the two
    // 1-hop orientations qualify (a 2-hop walk would need the same
    // edge twice — hop-uniqueness forbids it)
    val propWalk = Cypher.run(g,
      "MATCH (a)-[:NEIGHBORS*1..2 {id: '0'}]-(b) RETURN a.id AS aid, b.id AS bid")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(propWalk === Set(("10", "13"), ("13", "10")))
    // rebinding an existing variable is still rejected
    intercept[CypherParseException] {
      Cypher.run(g, "MATCH (r)-[r:NEIGHBORS*1..2]-(b) RETURN b.id")
    }
  }

  test("shortestPath()/allShortestPaths() pattern functions") {
    // oracle: per-target min hop over the plain var-length unroll
    val minLens = Cypher.run(g,
      "MATCH p = (a)-[:NEIGHBORS*1..3]-(b) WHERE a.id = '4' " +
        "RETURN b.id AS bid, length(p) AS len")
      .groupBy("bid").agg(min(col("len")).as("minLen"))

    val sp = Cypher.run(g,
      "MATCH p = shortestPath((a)-[:NEIGHBORS*1..3]-(b)) WHERE a.id = '4' " +
        "RETURN b.id AS bid, length(p) AS len")
    // exactly ONE row per reachable endpoint, at the minimal length
    assert(sp.count() === minLens.count())
    assert(sp.join(minLens, "bid").where(col("len") =!= col("minLen")).count() === 0)

    val asp = Cypher.run(g,
      "MATCH p = allShortestPaths((a)-[:NEIGHBORS*1..3]-(b)) WHERE a.id = '4' " +
        "RETURN b.id AS bid, length(p) AS len")
    // all minimal paths: ≥1 per endpoint, every row at the per-pair min
    assert(asp.count() >= sp.count())
    assert(asp.join(minLens, "bid").where(col("len") =!= col("minLen")).count() === 0)
    assert(asp.select("bid").distinct().count() === minLens.count())

    // unnamed form works too (no path variable needed)
    val unnamed = Cypher.run(g,
      "MATCH shortestPath((a)-[:NEIGHBORS*1..3]-(b)) WHERE a.id = '4' " +
        "RETURN b.id AS bid")
    assert(unnamed.count() === sp.count())

    // fixed-length inside the pattern function is rejected clearly
    intercept[CypherParseException] {
      Cypher.run(g, "MATCH p = shortestPath((a)-[:NEIGHBORS]->(b)) RETURN b.id")
    }
  }

  test("zero-length variable-length paths (*0..n) include the identity branch") {
    val e = g.orientedEdges.where(col("type") === "NEIGHBORS")
      .select(col("src"), col("dst"), col("eid"))
    val oneHop = e.where(col("src") === "4").count()

    // *0 alone: exactly the start node, rel type irrelevant
    val star0 = Cypher.run(g,
      "MATCH (a)-[:NEIGHBORS*0]-(b) WHERE a.id = '4' RETURN b.id AS bid").collect()
    assert(star0.length === 1)
    assert(star0(0).getString(0) === "4")
    // *0..1 = identity + one-hop
    val star01 = Cypher.run(g,
      "MATCH (a)-[:NEIGHBORS*0..1]-(b) WHERE a.id = '4' RETURN b.id").count()
    assert(star01 === 1 + oneHop)
    // zero branch against an ALREADY-BOUND target: (a)-[*0..1]-(a) keeps
    // the identity row (self-loops would add more; this graph has none)
    val selfZero = Cypher.run(g,
      "MATCH (a) WHERE a.id = '4' MATCH (a)-[:NEIGHBORS*0..1]-(a) RETURN a.id").count()
    assert(selfZero === 1)
    // named path over *0..1: identity branch has length 0, one node
    val p0 = Cypher.run(g,
      "MATCH p = (a)-[:NEIGHBORS*0..1]-(b) WHERE a.id = '4' " +
        "RETURN length(p) AS len, size(nodes(p)) AS nn ORDER BY len LIMIT 1").collect()(0)
    assert(p0.getInt(0) === 0)
    assert(p0.getInt(1) === 1)
  }

  test("arithmetic in WHERE and RETURN") {
    val rows = Cypher.run(g,
      "MATCH (n) WHERE n.age + 5 = 30 RETURN n.name AS name, n.age * 2 AS dbl").collect()
    assert(rows.length === 1)
    assert(rows(0).getString(0) === "Fiona")
    assert(rows(0).getDouble(1) === 50.0)
  }

  test("statistics aggregates: stDev, stDevP, percentileCont, percentileDisc") {
    // ids 0..9: mean 4.5, sample sd sqrt(82.5/9), population sd sqrt(8.25)
    val r = Cypher.run(g,
      "MATCH (n) WHERE n.id < 10 RETURN stDev(n.id) AS sd, stDevP(n.id) AS sdp, " +
        "percentileCont(n.id, 0.5) AS pc, percentileDisc(n.id, 0.5) AS pd").collect()(0)
    assert(math.abs(r.getDouble(0) - math.sqrt(82.5 / 9)) < 1e-12)
    assert(math.abs(r.getDouble(1) - math.sqrt(8.25)) < 1e-12)
    assert(r.getDouble(2) === 4.5)
    assert(r.getDouble(3) === 4.0)
    // grouped, and composable through WITH + round
    val grouped = Cypher.run(g,
      "MATCH (n) WITH percentileCont(n.id, 1.0) AS mx RETURN round(mx, 0) AS mx").collect()(0)
    assert(grouped.getDouble(0) === 19.0)
    intercept[CypherParseException] {
      Cypher.run(g, "MATCH (n) RETURN percentileCont(n.id, 1.5) AS x")
    }
    intercept[CypherParseException] {
      Cypher.run(g, "MATCH (n) RETURN stDev(DISTINCT n.id) AS x")
    }
  }

  test("list comprehensions: identity, filter, projection, shadowing") {
    // Charlie → split on 'r' → ["Cha", "lie"] → upper-projected
    val proj = Cypher.run(g,
      "MATCH (n) WHERE n.id = '2' RETURN [x IN split(n.name, 'r') | toUpper(x)] AS parts")
      .collect()(0).getSeq[String](0)
    assert(proj === Seq("CHA", "LIE"))
    // filter without projection, over a literal list (coerced numerically)
    val cnt = Cypher.run(g,
      "MATCH (n) WHERE n.id = '2' RETURN size([x IN [1, 2, 3, 4] WHERE x > 2]) AS c")
      .collect()(0)
    assert(cnt.getInt(0) === 2)
    // identity comprehension == the list itself
    val ident = Cypher.run(g,
      "MATCH (n) WHERE n.id = '2' RETURN [x IN split(n.name, 'r')] AS parts")
      .collect()(0).getSeq[String](0)
    assert(ident === Seq("Cha", "lie"))
    // the element variable shadows an outer binding for the comprehension
    val shadow = Cypher.run(g,
      "MATCH (n) WHERE n.id = '2' RETURN [n IN ['a', 'b'] | toUpper(n)] AS l")
      .collect()(0).getSeq[String](0)
    assert(shadow === Seq("A", "B"))
    // a comma after the In-expression still parses as a list literal
    val lit2 = Cypher.run(g,
      "MATCH (n) WHERE n.id = '2' RETURN size([n.id IN ['2'], true]) AS c")
      .collect()(0)
    assert(lit2.getInt(0) === 2)
  }

  test("list/scalar functions: reduce, range, head/last/tail, keys, left/right, toBoolean") {
    def one(q: String) = Cypher.run(g, s"MATCH (n) WHERE n.id = '2' RETURN $q AS x").collect()(0)
    assert(one("reduce(s = 0, x IN [1, 2, 3, 4] | s + x)").getDouble(0) === 10.0)
    assert(one("reduce(s = '', x IN split('a b c', ' ') | s + x)").getString(0) === "abc")
    // accumulator sees prior state, element shadows outer scope
    assert(one("reduce(s = 1, n IN [2, 3] | s * n)").getDouble(0) === 6.0)
    assert(one("size(range(1, 10))").getInt(0) === 10)
    assert(one("size(range(0, 10, 3))").getInt(0) === 4) // 0,3,6,9
    assert(one("head(range(5, 9))").getLong(0) === 5L)
    assert(one("last(range(5, 9))").getLong(0) === 9L)
    assert(one("size(tail(range(5, 9)))").getInt(0) === 4)
    assert(one("size(tail([1]))").getInt(0) === 0)
    assert(one("left('spark', 2)").getString(0) === "sp")
    assert(one("right('spark', 3)").getString(0) === "ark")
    assert(one("toBoolean('true')").getBoolean(0) === true)
    assert(one("toBoolean('nope')").isNullAt(0))
    // keys() lists the property map's keys, sorted
    val ks = one("keys(n)").getSeq[String](0)
    assert(ks.contains("name") && ks === ks.sorted)
    // reduce composes with UNWIND/aggregation downstream
    val total = Cypher.run(g,
      "MATCH (n) WHERE n.id < 3 UNWIND range(0, n.id) AS i RETURN count(i) AS c")
      .collect()(0).getLong(0)
    assert(total === 6L) // 1 + 2 + 3 elements for ids 0,1,2
  }

  test("quantifiers all/any/none/single with openCypher null semantics") {
    def one(q: String) = Cypher.run(g, s"RETURN $q AS x").collect()(0)
    assert(one("all(x IN [1, 2, 3] WHERE x > 0)").getBoolean(0) === true)
    assert(one("all(x IN [1, 2, 3] WHERE x > 2)").getBoolean(0) === false)
    assert(one("any(x IN [1, 2, 3] WHERE x > 2)").getBoolean(0) === true)
    assert(one("any(x IN [] WHERE x > 0)").getBoolean(0) === false)
    assert(one("none(x IN [1, 2, 3] WHERE x > 5)").getBoolean(0) === true)
    assert(one("none(x IN [1, 2] WHERE x = 2)").getBoolean(0) === false)
    assert(one("single(x IN [1, 2, 3] WHERE x = 2)").getBoolean(0) === true)
    assert(one("single(x IN [2, 2] WHERE x = 2)").getBoolean(0) === false)
    assert(one("single(x IN [] WHERE x = 2)").getBoolean(0) === false)
    // three-valued logic: null list → null; unknown elements may decide
    assert(one("all(x IN null WHERE x > 0)").isNullAt(0))
    assert(one("all(x IN [1, null] WHERE x > 0)").isNullAt(0))
    assert(one("all(x IN [0, null] WHERE x > 0)").getBoolean(0) === false) // false wins
    assert(one("any(x IN [1, null] WHERE x > 1)").isNullAt(0))
    assert(one("any(x IN [2, null] WHERE x > 1)").getBoolean(0) === true) // true wins
    assert(one("single(x IN [2, null] WHERE x = 2)").isNullAt(0))
    assert(one("single(x IN [2, 2, null] WHERE x = 2)").getBoolean(0) === false)
    // quantifier over an entity's keys, inside WHERE
    val withAge = Cypher.run(g,
      "MATCH (n) WHERE any(k IN keys(n) WHERE k = 'age') RETURN count(*) AS c")
      .collect()(0).getLong(0)
    assert(withAge > 0)
  }

  test("math functions: exp/log/trig/degrees/pi and isEmpty") {
    def one(q: String) = Cypher.run(g, s"RETURN $q AS x").collect()(0)
    assert(one("exp(0)").getDouble(0) === 1.0)
    assert(one("log(e())").getDouble(0) === 1.0) // log is the natural log
    assert(one("log10(1000)").getDouble(0) === 3.0)
    assert(one("round(degrees(pi()), 6)").getDouble(0) === 180.0)
    assert(one("round(radians(180) - pi(), 6)").getDouble(0) === 0.0)
    assert(one("sin(0)").getDouble(0) === 0.0)
    assert(one("cos(0)").getDouble(0) === 1.0)
    assert(one("round(atan2(1.0, 1.0) * 4, 6)").getDouble(0) ===
      one("round(pi(), 6)").getDouble(0))
    assert(one("round(cot(pi() / 4), 6)").getDouble(0) === 1.0)
    assert(one("haversin(0)").getDouble(0) === 0.0)
    assert(one("asin(1.0)").getDouble(0) === math.Pi / 2)
    assert(one("acos(1.0)").getDouble(0) === 0.0)
    assert(one("atan(0)").getDouble(0) === 0.0)
    assert(one("isEmpty([])").getBoolean(0) === true)
    assert(one("isEmpty([1])").getBoolean(0) === false)
    assert(one("isEmpty('')").getBoolean(0) === true)
    assert(one("isEmpty('x')").getBoolean(0) === false)
  }

  test("pattern predicates compile to semi/anti joins") {
    // ground truth from the expand form
    val neighborIds = Cypher.run(g,
      "MATCH (n)-[:NEIGHBORS]-(m) WHERE m.name = 'Fiona' RETURN DISTINCT n.id AS id")
      .collect().map(_.getString(0)).toSet
    assert(neighborIds.nonEmpty)
    val exists = Cypher.run(g,
      "MATCH (n) WHERE (n)-[:NEIGHBORS]-(m {name: 'Fiona'}) RETURN n.id AS id")
      .collect().map(_.getString(0)).toSet
    assert(exists === neighborIds)
    // exists(pattern) function form is the same plan
    val existsFn = Cypher.run(g,
      "MATCH (n) WHERE exists((n)-[:NEIGHBORS]-(m {name: 'Fiona'})) RETURN n.id AS id")
      .collect().map(_.getString(0)).toSet
    assert(existsFn === neighborIds)
    // NOT pattern → anti join, complements within the 20 nodes
    val notExists = Cypher.run(g,
      "MATCH (n) WHERE NOT (n)-[:NEIGHBORS]-(m {name: 'Fiona'}) RETURN n.id AS id")
      .collect().map(_.getString(0)).toSet
    assert(notExists === g.nodes.select("id").collect().map(_.getString(0)).toSet -- neighborIds)
    // pattern variables do not bind outside the predicate
    intercept[CypherParseException] {
      Cypher.run(g, "MATCH (n) WHERE (n)-[:NEIGHBORS]-(m {name: 'Fiona'}) RETURN m.id")
    }
    // combined with a scalar conjunct
    val mixed = Cypher.run(g,
      "MATCH (n) WHERE n.id < 5 AND (n)-[:NEIGHBORS]-(m {name: 'Fiona'}) RETURN n.id AS id")
      .collect().map(_.getString(0)).toSet
    assert(mixed === neighborIds.filter(_.toInt < 5))
    // a pattern with no shared variable gates on (non)emptiness
    assert(Cypher.run(g,
      "MATCH (n) WHERE (x:NoSuchLabel)-[:NEIGHBORS]-(y) RETURN n.id").count() === 0L)
    assert(Cypher.run(g,
      "MATCH (n) WHERE (x:Person)-[:NEIGHBORS]-(y) RETURN n.id").count() === 20L)
    // nested under OR → clear rejection, not silent misplan
    intercept[CypherParseException] {
      Cypher.run(g,
        "MATCH (n) WHERE n.id = '1' OR (n)-[:NEIGHBORS]-(m {name: 'Fiona'}) RETURN n.id")
    }
    // exists(n.prop) scalar form still works
    val withAge = Cypher.run(g,
      "MATCH (n) WHERE exists(n.age) RETURN n.name AS name")
      .collect().map(_.getString(0)).toSet
    assert(withAge === Set("Fiona"))
  }

  test("named path: nodes()/relationships()/length() over a fixed pattern") {
    val rows = Cypher.run(g,
      "MATCH p = (a)-[r:NEIGHBORS]->(b) " +
        "RETURN length(p) AS len, size(nodes(p)) AS nn, size(relationships(p)) AS nr")
      .collect()
    assert(rows.length === 2 * g.edges.where(col("type") === "NEIGHBORS").count())
    assert(rows.forall(r => r.getInt(0) == 1 && r.getInt(1) == 2 && r.getInt(2) == 1))
    // the path's entities ARE the bound variables, in traversal order
    val one = Cypher.run(g,
      "MATCH p = (a)-[r:NEIGHBORS]->(b) WHERE a.id = '1' RETURN p, a.id AS aid, b.id AS bid")
      .collect()
    assert(one.nonEmpty)
    one.foreach { row =>
      val p = row.getStruct(0)
      val nodeIds = p.getSeq[org.apache.spark.sql.Row](0).map(_.getAs[String]("id"))
      assert(nodeIds === Seq(row.getString(1), row.getString(2)))
      val relTypes = p.getSeq[org.apache.spark.sql.Row](1).map(_.getAs[String]("type"))
      assert(relTypes === Seq("NEIGHBORS"))
    }
  }

  test("named path composes with variable-length hops: length(p) = branch hop count") {
    val rows = Cypher.run(g,
      "MATCH p = (a)-[:NEIGHBORS*1..2]-(b) WHERE a.id = '1' " +
        "RETURN length(p) AS len, b.id AS bid")
      .collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getInt(0)).toSet === Set(1, 2))
    // row count matches the same pattern without the path binding
    val bare = Cypher.run(g,
      "MATCH (a)-[:NEIGHBORS*1..2]-(b) WHERE a.id = '1' RETURN b.id").count()
    assert(rows.length.toLong === bare)
    // per-branch node-array length tracks the hop count
    val viaNodes = Cypher.run(g,
      "MATCH p = (a)-[:NEIGHBORS*1..2]-(b) WHERE a.id = '1' " +
        "RETURN size(nodes(p)) - 1 AS len, length(p) AS len2").collect()
    assert(viaNodes.forall(r => r.getDouble(0) == r.getInt(1))) // arithmetic runs in DOUBLE
  }

  test("named path: zero-hop, aggregation key, and error shapes") {
    val zero = Cypher.run(g, "MATCH p = (a) WHERE a.id = '1' RETURN length(p) AS len").collect()
    assert(zero.map(_.getInt(0)).toSeq === Seq(0))
    // a path is a valid (id-sequence keyed) grouping key
    val grouped = Cypher.run(g,
      "MATCH p = (a)-[:NEIGHBORS]->(b) WHERE a.id = '1' RETURN p, count(*) AS c").collect()
    assert(grouped.nonEmpty && grouped.forall(_.getLong(1) == 1L))
    intercept[CypherParseException] { // name collision
      Cypher.run(g, "MATCH p = (a)-[]->(p) RETURN length(p)")
    }
    intercept[CypherParseException] { // nodes() needs a path
      Cypher.run(g, "MATCH (a) RETURN nodes(a)")
    }
    intercept[CypherParseException] { // length() of a string is size()'s job
      Cypher.run(g, "MATCH (a) RETURN length(a.name)")
    }
  }

  test("named-path surface analysis: field sets are minimal and opaque uses degrade safely") {
    import graft.cypher.{Parser, Planner}
    def usage(q: String) = Planner.pathFieldUsage(Parser.parse(q))
    // type-only rel read + count-only node read → narrow both
    assert(usage("MATCH p = (a)-[*1..2]->(b) RETURN " +
      "[e IN relationships(p) | type(e)] AS ts, size(nodes(p)) AS nn") ===
      Map("p" -> ((Some(Set.empty[String]), Some(Set("type"))))))
    // property read off a node element needs the map; id() needs id/eid
    assert(usage("MATCH p = (a)-[]->(b) RETURN " +
      "[n IN nodes(p) | n.name] AS names, [e IN relationships(p) | id(e)] AS es") ===
      Map("p" -> ((Some(Set("properties")), Some(Set("eid"))))))
    // pseudo-property precedence: n.id reads properties AND the struct id
    assert(usage("MATCH p = (a)-[]->(b) RETURN [n IN nodes(p) | n.id] AS ids")
      ("p")._1 === Some(Set("properties", "id")))
    // whole path projected → both surfaces opaque
    assert(usage("MATCH p = (a)-[]->(b) RETURN p") ===
      Map("p" -> ((None, None))))
    // nodes(p) escaping whole (head) → nodes opaque, rels still narrow
    assert(usage("MATCH p = (a)-[]->(b) RETURN " +
      "head(nodes(p)) AS h, size(relationships(p)) AS nr") ===
      Map("p" -> ((None, Some(Set.empty[String])))))
    // quantifier + WHERE-side lambda both fold in
    assert(usage("MATCH p = (a)-[*1..2]->(b) " +
      "WHERE all(e IN relationships(p) WHERE type(e) = 'NEIGHBORS') " +
      "RETURN length(p) AS len")("p")._2 === Some(Set("type")))
    // var-length REL-LIST bindings get the same treatment
    def listUsage(q: String) =
      Planner.relListFieldUsage(graft.cypher.Parser.parse(q))
    assert(listUsage("MATCH (a)-[r*1..2]->(b) RETURN size(r) AS n, " +
      "[e IN r | type(e)] AS ts") === Map("r" -> Some(Set("type"))))
    assert(listUsage("MATCH (a)-[r*1..2]->(b) RETURN r") ===
      Map("r" -> None))
    assert(listUsage("MATCH (a)-[r*1..2]->(b) UNWIND r AS e RETURN id(e) AS i") ===
      Map("r" -> None))
    // runtime parity under rel-list slimming
    val slimR = Cypher.run(g, "MATCH (a)-[r*1..2]->(b) WHERE a.id = '1' " +
      "RETURN size(r) AS n, [e IN r | type(e)] AS ts")
      .collect().map(x => (x.getInt(0), x.getSeq[String](1).mkString(","))).sorted
    val fullR = Cypher.run(g, "MATCH (a)-[r*1..2]->(b) WHERE a.id = '1' " +
      "RETURN size(r) AS n, [e IN r | type(e)] AS ts, r")
      .collect().map(x => (x.getInt(0), x.getSeq[String](1).mkString(","))).sorted
    assert(slimR === fullR)
    // runtime parity under slimming: type-only projection over the fixture
    val slim = Cypher.run(g, "MATCH p = (a)-[*1..2]->(b) WHERE a.id = '1' " +
      "RETURN [e IN relationships(p) | type(e)] AS ts, size(nodes(p)) AS nn")
      .collect().map(r => (r.getSeq[String](0).mkString(","), r.getInt(1))).sorted
    val full = Cypher.run(g, "MATCH p = (a)-[*1..2]->(b) WHERE a.id = '1' " +
      "RETURN [e IN relationships(p) | type(e)] AS ts, size(nodes(p)) AS nn, p")
      .collect().map(r => (r.getSeq[String](0).mkString(","), r.getInt(1))).sorted
    assert(slim === full)
  }

  test("EXISTS { } subquery: correlated semi/anti joins, inner WHERE sees outer vars") {
    // ground truth from the expand form
    val neighborIds = Cypher.run(g,
      "MATCH (n)-[:NEIGHBORS]-(m) WHERE m.name = 'Fiona' RETURN DISTINCT n.id AS id")
      .collect().map(_.getString(0)).toSet
    val ex = Cypher.run(g,
      "MATCH (n) WHERE EXISTS { MATCH (n)-[:NEIGHBORS]-(m) WHERE m.name = 'Fiona' } " +
        "RETURN n.id AS id").collect().map(_.getString(0)).toSet
    assert(ex === neighborIds)
    // NOT EXISTS → anti join, complements within the 20 nodes
    val notEx = Cypher.run(g,
      "MATCH (n) WHERE NOT EXISTS { (n)-[:NEIGHBORS]-(m) WHERE m.name = 'Fiona' } " +
        "RETURN n.id AS id").collect().map(_.getString(0)).toSet
    assert(notEx === g.nodes.select("id").collect().map(_.getString(0)).toSet -- neighborIds)
    // inner WHERE referencing BOTH outer and inner variables (true correlation)
    val corr = Cypher.run(g,
      "MATCH (n) WHERE EXISTS { (n)-[:NEIGHBORS]-(m) WHERE m.id > n.id } " +
        "RETURN n.id AS id").collect().map(_.getString(0)).toSet
    val corrTruth = Cypher.run(g,
      "MATCH (n)-[:NEIGHBORS]-(m) WHERE m.id > n.id RETURN DISTINCT n.id AS id")
      .collect().map(_.getString(0)).toSet
    assert(corr === corrTruth)
    // uncorrelated EXISTS gates on global (non)emptiness
    assert(Cypher.run(g,
      "MATCH (n) WHERE EXISTS { (x:NoSuchLabel)-[:NEIGHBORS]-(y) } RETURN n.id").count() === 0L)
    assert(Cypher.run(g,
      "MATCH (n) WHERE EXISTS { (x)-[:NEIGHBORS]-(y) } RETURN n.id").count() === 20L)
    // nested under OR → clear rejection, not a MatchError
    val err = intercept[CypherParseException] {
      Cypher.run(g,
        "MATCH (n) WHERE n.id = '1' OR EXISTS { (n)-[:NEIGHBORS]-(m) } RETURN n.id")
    }
    assert(err.getMessage.contains("top-level WHERE conjuncts"))
  }

  test("pattern comprehension: RETURN / WHERE / UNWIND, empty-match → empty list") {
    // [pattern | proj] in RETURN: neighbor names per node, sorted
    val rows = Cypher.run(g,
      "MATCH (n) WHERE n.id = '1' RETURN [(n)-[:NEIGHBORS]-(m) | m.name] AS names")
      .collect()
    assert(rows.length === 1)
    val names = rows(0).getSeq[String](0)
    val truth = Cypher.run(g,
      "MATCH (n)-[:NEIGHBORS]-(m) WHERE n.id = '1' RETURN m.name AS name")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(names === truth)
    // size() over the comprehension inside WHERE
    val deg = Cypher.run(g,
      "MATCH (n) WHERE size([(n)-[:NEIGHBORS]-(m) | m.id]) >= 12 RETURN n.id AS id")
      .collect().map(_.getString(0)).toSet
    val degTruth = Cypher.run(g,
      "MATCH (n)-[:NEIGHBORS]-(m) RETURN n.id AS id, count(m) AS c")
      .collect().filter(_.getLong(1) >= 12).map(_.getString(0)).toSet
    assert(deg === degTruth)
    // inner WHERE filters before collection; UNWIND flattens the list
    val unwound = Cypher.run(g,
      "MATCH (n) WHERE n.id = '1' " +
        "UNWIND [(n)-[:NEIGHBORS]-(m) WHERE m.id < 5 | m.id] AS mid RETURN mid")
      .collect().map(_.getString(0)).toSet
    val unwoundTruth = Cypher.run(g,
      "MATCH (n)-[:NEIGHBORS]-(m) WHERE n.id = '1' AND m.id < 5 RETURN m.id AS id")
      .collect().map(_.getString(0)).toSet
    assert(unwound === unwoundTruth)
    // no match → EMPTY list (not null), so size() = 0 keeps the row
    val empty = Cypher.run(g,
      "MATCH (n) WHERE n.id = '1' RETURN size([(n)-[:NOSUCHTYPE]->(m) | m.id]) AS z")
      .collect()
    assert(empty.length === 1 && empty(0).getInt(0) === 0)
    // whole-entity projection (map-bearing elements skip the sort)
    val ent = Cypher.run(g,
      "MATCH (n) WHERE n.id = '1' RETURN size([(n)-[:NEIGHBORS]-(m) | m]) AS c")
      .collect()
    assert(ent(0).getInt(0) === truth.size)
    // WITH-projected comprehension carries through as a list value
    val viaWith = Cypher.run(g,
      "MATCH (n) WHERE n.id = '1' WITH [(n)-[:NEIGHBORS]-(m) | m.name] AS names " +
        "RETURN size(names) AS c").collect()
    assert(viaWith(0).getInt(0) === truth.size)
    // comprehension variables do not leak into the outer scope
    intercept[CypherParseException] {
      Cypher.run(g, "MATCH (n) RETURN [(n)-[:NEIGHBORS]-(m) | m.name] AS x, m.id")
    }
  }

  test("plan posture: EXISTS/comprehension compile to equi-joins, never per-row loops") {
    // correlated EXISTS → one LEFT SEMI equi-join; NOT EXISTS → LEFT ANTI.
    // A nested-loop or cartesian here would re-execute the subquery per
    // row at 100 TB; fail loudly if one appears.
    val semi = Cypher.run(g,
      "MATCH (n) WHERE EXISTS { (n)-[:NEIGHBORS]-(m) WHERE m.name = 'Fiona' } RETURN n.id")
      .queryExecution.executedPlan.toString
    assert(semi.contains("LeftSemi"), s"EXISTS is not a semi join:\n$semi")
    assert(!semi.contains("CartesianProduct") && !semi.contains("NestedLoop"),
      s"EXISTS plan has a per-row loop:\n$semi")
    val anti = Cypher.run(g,
      "MATCH (n) WHERE NOT EXISTS { (n)-[:NEIGHBORS]-(m) WHERE m.name = 'Fiona' } RETURN n.id")
      .queryExecution.executedPlan.toString
    assert(anti.contains("LeftAnti"), s"NOT EXISTS is not an anti join:\n$anti")
    // pattern comprehension → grouped collect + ONE outer equi-join; the
    // collect aggregate must appear exactly once (memoized, not re-run
    // per reference) even when the comprehension is used twice.
    val comp = Cypher.run(g,
      "MATCH (n) RETURN n.id AS id, [(n)-[:NEIGHBORS]-(m) | m.name] AS names, " +
        "size([(n)-[:NEIGHBORS]-(m) | m.name]) AS c")
      .queryExecution.executedPlan.toString
    assert(comp.split("collect_list").length - 1 <= 2, // partial+final of ONE aggregate
      s"comprehension collect runs more than once:\n$comp")
    assert(!comp.contains("CartesianProduct") && !comp.contains("NestedLoop"),
      s"comprehension plan has a per-row loop:\n$comp")
  }

  test("openCypher null semantics: aggregates skip nulls, nulls sort last ASC / first DESC") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val nodes = Seq(
      ("1", "P", Map("age" -> "30")), ("2", "P", Map.empty[String, String]),
      ("3", "P", Map("age" -> "40"))
    ).toDF("id", "label", "properties")
    val edges = Seq.empty[(String, String, String, Map[String, String])]
      .toDF("src", "dst", "type", "properties")
    val gp = PropertyGraph(nodes, PropertyGraph.withEid(edges), isDirected = true)
    // count(prop)/avg ignore nulls; count(*) doesn't; collect() skips nulls
    val agg = Cypher.run(gp,
      "MATCH (p:P) RETURN count(p.age) AS c, avg(toFloat(p.age)) AS a, " +
        "count(*) AS n, collect(p.age) AS l").collect()(0)
    assert(agg.getLong(0) === 2L && agg.getDouble(1) === 35.0 && agg.getLong(2) === 3L)
    assert(agg.getSeq[String](3).toSet === Set("30", "40"))
    // ORDER BY ASC: nulls LAST (Neo4j), not Spark's default nulls-first
    val asc = Cypher.run(gp, "MATCH (p:P) RETURN p.age AS a ORDER BY a")
      .collect().map(r => Option(r.getString(0)))
    assert(asc.toSeq === Seq(Some("30"), Some("40"), None))
    val desc = Cypher.run(gp, "MATCH (p:P) RETURN p.age AS a ORDER BY a DESC")
      .collect().map(r => Option(r.getString(0)))
    assert(desc.toSeq === Seq(None, Some("40"), Some("30")))
  }

  test("sparql over adrdf: N-Triples ingest feeds the query engine end to end") {
    import spark.implicits._
    import graft.sparql.Sparql
    // the reference's adrdf pipeline: N-Triples lines -> triple graph;
    // its declared-only sparql verb then queries the same triples
    val lines = Seq(
      "<alice> <knows> <bob> .",
      "<bob> <knows> <carol> .",
      "<alice> <worksAt> \"acme\" .",
      "# comment", "").toDF("value")
    val g = graft.sources.GraphSources.parseRdfTriples(lines)
    val triples = g.edges.select(col("src").as("s"), col("type").as("p"),
      col("dst").as("o"))
    val out = Sparql.run(triples,
      "SELECT ?x ?z WHERE { ?x <knows> ?y . ?y <knows> ?z . }")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out === Seq(("alice", "carol")))
    assert(Sparql.run(triples, "ASK WHERE { ?w <worksAt> \"acme\" . }")
      .collect()(0).getBoolean(0))
  }

  test("sparql: BGP joins, repeated vars, OPTIONAL nulls, filters, modifiers, rejects") {
    import spark.implicits._
    import graft.sparql.Sparql
    val triples = Seq(
      ("a", "knows", "b"), ("b", "knows", "c"), ("a", "knows", "c"),
      ("a", "age", "41"), ("b", "age", "7"), ("self", "knows", "self"))
      .toDF("s", "p", "o")
    // chain join: ?x knows ?y, ?y knows ?z
    val chain = Sparql.run(triples,
      "SELECT ?x ?z WHERE { ?x <knows> ?y . ?y <knows> ?z . } ORDER BY ?x ?z")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(chain === Seq(("a", "c"), ("self", "self")))
    // repeated variable constrains equality in-pattern
    val selfs = Sparql.run(triples, "SELECT ?x WHERE { ?x <knows> ?x . }")
      .collect().map(_.getString(0)).toSeq
    assert(selfs === Seq("self"))
    // OPTIONAL leaves unmatched rows with null
    val opt = Sparql.run(triples,
      "SELECT ?x ?a WHERE { ?x <knows> ?y . OPTIONAL { ?x <age> ?a . } FILTER(?y = \"c\") } ORDER BY ?x")
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(opt === Set(("a", Some("41")), ("b", Some("7"))))
    val optNull = Sparql.run(triples,
      "SELECT DISTINCT ?x ?a WHERE { ?x <knows> ?y . OPTIONAL { ?x <age> ?a . } } ORDER BY ?x")
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(optNull(("self", None)))
    // numeric FILTER casts both sides (string "7" > 10 lexically but not numerically)
    val adults = Sparql.run(triples,
      "SELECT ?x WHERE { ?x <age> ?a . FILTER(?a > 10) }")
      .collect().map(_.getString(0)).toSeq
    assert(adults === Seq("a"))
    // bare < is the operator, not an IRI opener
    val kids = Sparql.run(triples,
      "SELECT ?x WHERE { ?x <age> ?a . FILTER(?a < 10) }")
      .collect().map(_.getString(0)).toSeq
    assert(kids === Seq("b"))
    // LIMIT + DISTINCT + constant-object pattern
    val l = Sparql.run(triples,
      "SELECT DISTINCT ?x WHERE { ?x <knows> \"c\" . } ORDER BY ?x LIMIT 1")
      .collect().map(_.getString(0)).toSeq
    assert(l === Seq("a"))
    // UNION: bag semantics, null padding for branch-only vars, join
    // with the remaining top-level pattern on shared vars
    val uni = Sparql.run(triples,
      "SELECT ?x ?a WHERE { { ?x <knows> \"c\" . } UNION { ?x <age> ?a . ?x <knows> \"c\" . } } ORDER BY ?x")
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSeq
    assert(uni === Seq(("a", None), ("a", Some("41")), ("b", None), ("b", Some("7"))))
    // aggregates: COUNT(?v) per group and global COUNT(*)
    val perX = Sparql.run(triples,
      "SELECT ?x (COUNT(?y) AS ?n) WHERE { ?x <knows> ?y . } GROUP BY ?x ORDER BY ?x")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(perX === Seq(("a", 2L), ("b", 1L), ("self", 1L)))
    val total = Sparql.run(triples,
      "SELECT (COUNT(*) AS ?n) WHERE { ?x <knows> ?y . }")
      .collect().map(_.getLong(0)).toSeq
    assert(total === Seq(4L))
    // ASK: true when a solution exists, false otherwise (lazy plans)
    assert(Sparql.run(triples, "ASK WHERE { ?x <knows> \"c\" . }")
      .collect()(0).getBoolean(0))
    assert(!Sparql.run(triples, "ASK WHERE { ?x <knows> \"zzz\" . }")
      .collect()(0).getBoolean(0))
    // CONSTRUCT: template instantiation, set semantics (dup solutions
    // collapse), constants allowed in the template
    val built = Sparql.run(triples,
      "CONSTRUCT { ?x <reaches> \"c\" . } WHERE { ?x <knows> ?y . ?y <knows> ?z . }")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(built === Set(("a", "reaches", "c"), ("self", "reaches", "c")))
    intercept[IllegalArgumentException](Sparql.parse(
      "CONSTRUCT { ?nope <p> ?x . } WHERE { ?x <knows> ?y . }"))
    // SPARQL 1.1 rule: projecting an ungrouped plain var rejects
    intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?x ?y (COUNT(*) AS ?n) WHERE { ?x <knows> ?y . } GROUP BY ?x"))
    // clear rejections: unknown projection var, empty WHERE, bad trailing
    intercept[IllegalArgumentException](
      Sparql.parse("SELECT ?nope WHERE { ?x <knows> ?y . }"))
    intercept[IllegalArgumentException](Sparql.parse("SELECT ?x WHERE { }"))
    intercept[IllegalArgumentException](
      Sparql.parse("SELECT ?x WHERE { ?x <knows> ?y . } GARBAGE"))
  }

  test("sparql MINUS and FILTER [NOT] EXISTS: joins, disjoint-domain rules, rejects") {
    import spark.implicits._
    import graft.sparql.Sparql
    val triples = Seq(
      ("a", "knows", "b"), ("b", "knows", "c"), ("a", "knows", "c"),
      ("a", "age", "41"), ("b", "age", "7"), ("c", "flag", "1"))
      .toDF("s", "p", "o")
    def pairs(q: String): Set[(String, String)] =
      Sparql.run(triples, q).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    // MINUS on a shared variable: an anti-join
    assert(pairs("SELECT ?x ?y WHERE { ?x <knows> ?y . MINUS { ?x <age> \"41\" . } }")
      === Set(("b", "c")))
    // §8.3 disjoint domains: MINUS removes NOTHING even though the block
    // matches, while the same block under NOT EXISTS removes everything
    val all = Set(("a", "b"), ("b", "c"), ("a", "c"))
    assert(pairs("SELECT ?x ?y WHERE { ?x <knows> ?y . MINUS { ?u <flag> \"1\" . } }")
      === all)
    assert(pairs("SELECT ?x ?y WHERE { ?x <knows> ?y . FILTER NOT EXISTS { ?u <flag> \"1\" . } }")
      === Set.empty[(String, String)])
    // NOT EXISTS on a shared variable: keep rows whose ?y has no age
    assert(pairs("SELECT ?x ?y WHERE { ?x <knows> ?y . FILTER NOT EXISTS { ?y <age> ?w . } }")
      === Set(("a", "c"), ("b", "c")))
    // EXISTS on a shared variable: keep rows whose ?y knows someone
    assert(pairs("SELECT ?x ?y WHERE { ?x <knows> ?y . FILTER EXISTS { ?y <knows> ?w . } }")
      === Set(("a", "b")))
    // no-shared-var existence probes: a matching block keeps all rows
    // (EXISTS) / an empty block keeps all rows (NOT EXISTS)
    assert(pairs("SELECT ?x ?y WHERE { ?x <knows> ?y . FILTER EXISTS { ?q <flag> \"1\" . } }")
      === all)
    assert(pairs("SELECT ?x ?y WHERE { ?x <knows> ?y . FILTER NOT EXISTS { ?q <flag> \"9\" . } }")
      === all)
    assert(pairs("SELECT ?x ?y WHERE { ?x <knows> ?y . FILTER EXISTS { ?q <flag> \"9\" . } }")
      === Set.empty[(String, String)])
    // a shared variable bound only by OPTIONAL runs through the §18.3
    // compatibility join: an unbound ?a is compatible with every block
    // row, so NOT EXISTS drops such rows (the block is non-empty) while
    // MINUS KEEPS them (dom(μ)∩dom(μ') = ∅, §8.3) — the spec divergence,
    // now exercised on nullable keys. Solutions: (a,b,a=7) — removed by
    // both (7 is an age); (b,c) and (a,c) with ?a unbound — removed by
    // NOT EXISTS, kept by MINUS.
    assert(pairs("SELECT ?x ?y WHERE { ?x <knows> ?y . OPTIONAL { ?y <age> ?a . } FILTER NOT EXISTS { ?z <age> ?a . } }")
      === Set.empty[(String, String)])
    assert(pairs("SELECT ?x ?y WHERE { ?x <knows> ?y . OPTIONAL { ?y <age> ?a . } MINUS { ?z <age> ?a . } }")
      === Set(("b", "c"), ("a", "c")))
    // grammar: FILTER NOT must be followed by EXISTS
    intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?x WHERE { ?x <knows> ?y . FILTER NOT (?x = \"a\") }"))
  }

  test("sparql aggregates, VALUES inline data, OFFSET") {
    import spark.implicits._
    import graft.sparql.Sparql
    val triples = Seq(
      ("a", "score", "10"), ("a", "score", "30"), ("b", "score", "5"),
      ("b", "score", "5"), ("a", "tag", "x"), ("b", "tag", "y"),
      ("c", "tag", "y"))
      .toDF("s", "p", "o")
    // SUM/AVG take the numeric view; MIN/MAX order lexically;
    // COUNT(DISTINCT) collapses the duplicate binding
    val stats = Sparql.run(triples,
      """SELECT ?x (SUM(?v) AS ?total) (AVG(?v) AS ?mean)
        |  (MIN(?v) AS ?lo) (MAX(?v) AS ?hi) (COUNT(DISTINCT ?v) AS ?nd)
        |WHERE { ?x <score> ?v . } GROUP BY ?x ORDER BY ?x""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getString(3), r.getString(4), r.getLong(5))).toSeq
    assert(stats === Seq(("a", 40.0, 20.0, "10", "30", 2L),
      ("b", 10.0, 5.0, "5", "5", 1L)))
    // global (ungrouped) aggregate over every binding
    val g = Sparql.run(triples,
      "SELECT (SUM(?v) AS ?t) WHERE { ?x <score> ?v . }")
      .collect().map(_.getDouble(0)).toSeq
    assert(g === Seq(50.0))
    // non-numeric bindings cast to null and are skipped by SUM
    val mixed = Sparql.run(triples,
      "SELECT (SUM(?v) AS ?t) WHERE { ?x <tag> ?v . }")
      .collect()
    assert(mixed(0).isNullAt(0))
    // VALUES single-var: constrains an existing variable (a broadcast
    // semi-shaped inner join, bag multiplicity preserved)
    val vals = Sparql.run(triples,
      "SELECT ?x ?v WHERE { ?x <score> ?v . VALUES ?x { \"a\" } } ORDER BY ?v")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(vals === Seq(("a", "10"), ("a", "30")))
    // VALUES multi-var: row-wise binding tuples
    val tup = Sparql.run(triples,
      """SELECT ?x ?t WHERE { ?x <tag> ?t .
        |VALUES (?x ?t) { ("a" "x") ("c" "y") ("c" "zz") } } ORDER BY ?x""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(tup === Seq(("a", "x"), ("c", "y")))
    // VALUES introducing a fresh variable: a cross product with the group
    val fresh = Sparql.run(triples,
      "SELECT ?x ?w WHERE { ?x <tag> \"y\" . VALUES ?w { \"p\" \"q\" } } ORDER BY ?x ?w")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(fresh === Seq(("b", "p"), ("b", "q"), ("c", "p"), ("c", "q")))
    // OFFSET slices after ORDER BY, composing with LIMIT
    val page = Sparql.run(triples,
      "SELECT DISTINCT ?x WHERE { ?x <tag> ?t . } ORDER BY ?x OFFSET 1 LIMIT 1")
      .collect().map(_.getString(0)).toSeq
    assert(page === Seq("b"))
    // SELECT REDUCED permits dedup (§18.5.5) — we execute it as DISTINCT,
    // a conforming and deterministic choice
    val reduced = Sparql.run(triples,
      "SELECT REDUCED ?x WHERE { ?x <score> ?v . } ORDER BY ?x")
      .collect().map(_.getString(0)).toSeq
    assert(reduced === Seq("a", "b"))
    // DISTINCT inside aggregates (§11.2): dedups the argument multiset
    // before the fold — b's duplicate "5" collapses
    val dsum = Sparql.run(triples,
      """SELECT (SUM(DISTINCT ?v) AS ?t) (AVG(DISTINCT ?v) AS ?m)
        |  (GROUP_CONCAT(DISTINCT ?v) AS ?cs)
        |WHERE { ?x <score> ?v . }""".stripMargin).collect()
    assert(dsum(0).getDouble(0) === 45.0)
    assert(dsum(0).getDouble(1) === 15.0)
    assert(dsum(0).getString(2) === "10 30 5")
    // UNDEF inline rows are wildcards (§18.3 compatibility): a lone
    // UNDEF constrains nothing
    val undefAll = Sparql.run(triples,
      "SELECT ?x WHERE { ?x <tag> ?t . VALUES ?t { UNDEF } }")
      .collect().map(_.getString(0)).toSet
    assert(undefAll === Set("a", "b", "c"))
    // a VALUES written AFTER an OPTIONAL joins the extended solutions
    // (§18.2.2.6 order): a's score 10 matches, b's 5s drop, c (no score,
    // ?v unbound) is compatible and adopts the inline binding
    val optVals = Sparql.run(triples,
      "SELECT ?x ?v WHERE { ?x <tag> ?t . OPTIONAL { ?x <score> ?v . } VALUES ?v { \"10\" } }")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(optVals === Set(("a", "10"), ("c", "10")))
    // rejects: SUM(*), arity mismatch
    intercept[IllegalArgumentException](Sparql.parse(
      "SELECT (SUM(*) AS ?t) WHERE { ?x <score> ?v . }"))
    intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?x WHERE { ?x <tag> ?t . VALUES (?x ?t) { (\"a\") } }"))
  }

  test("sparql property paths: inverse, sequence, rdf:type keyword, rejects") {
    import spark.implicits._
    import graft.sparql.Sparql
    val triples = Seq(
      ("a", "knows", "b"), ("b", "knows", "c"), ("a", "knows", "c"),
      ("b", "worksAt", "acme"),
      ("a", Sparql.RdfType, "Person"), ("b", Sparql.RdfType, "Person"),
      ("acme", Sparql.RdfType, "Company"))
      .toDF("s", "p", "o")
    // sequence p1/p2 — IRI form and the single-token plain form
    val seqIri = Sparql.run(triples,
      "SELECT ?x ?w WHERE { ?x <knows>/<worksAt> ?w . }")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(seqIri === Seq(("a", "acme")))
    val seqPlain = Sparql.run(triples,
      "SELECT ?x ?w WHERE { ?x knows/worksAt ?w . }")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(seqPlain === seqIri)
    // inverse: ?s ^knows ?o ≡ ?o knows ?s
    val inv = Sparql.run(triples,
      "SELECT ?y ?x WHERE { ?y ^<knows> ?x . FILTER(?y = \"c\") } ORDER BY ?x")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(inv === Seq(("c", "a"), ("c", "b")))
    // composed ^p1/p2: who-knows-s, then their workplace
    val comp = Sparql.run(triples,
      "SELECT ?s ?w WHERE { ?s ^<knows>/<worksAt> ?w . }")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(comp === Seq(("c", "acme")))
    // `a` = rdf:type keyword, alone and inside a sequence
    val typed = Sparql.run(triples,
      "SELECT ?p WHERE { ?p a <Person> . } ORDER BY ?p")
      .collect().map(_.getString(0)).toSeq
    assert(typed === Seq("a", "b"))
    val seqType = Sparql.run(triples,
      "SELECT ?x ?t WHERE { ?x <worksAt>/a ?t . }")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(seqType === Seq(("b", "Company")))
    // star projection hides the __path intermediates
    val star = Sparql.run(triples, "SELECT * WHERE { ?x <knows>/<knows> ?z . }")
    assert(star.columns.toSeq === Seq("x", "z"))
    assert(star.collect().map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("a", "c")))
    // parse-rejects beyond the subset: path variables
    intercept[IllegalArgumentException](
      Sparql.parse("SELECT ?x ?y WHERE { ?x ?p/<knows> ?y . }"))
    intercept[IllegalArgumentException](
      Sparql.parse("SELECT ?x ?y WHERE { ?x ^?p ?y . }"))
    intercept[IllegalArgumentException](
      Sparql.parse("SELECT ?x ?y WHERE { ?x ?p+ ?y . }"))
    // intermediates are not addressable by name
    intercept[IllegalArgumentException](
      Sparql.parse("SELECT ?__path1 WHERE { ?x <knows>/<knows> ?z . }"))
  }

  test("sparql Kleene paths: +, *, ?, alternation, cycles, regimes") {
    import spark.implicits._
    import graft.sparql.Sparql
    // chain a→b→c→d plus a cycle x→y→x and a second predicate
    val triples = Seq(
      ("a", "knows", "b"), ("b", "knows", "c"), ("c", "knows", "d"),
      ("x", "knows", "y"), ("y", "knows", "x"),
      ("c", "worksAt", "acme"))
      .toDF("s", "p", "o")
    def rows2(q: String): Seq[(String, String)] =
      Sparql.run(triples, q).collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq

    // p+ var–var: distinct closure pairs; the cycle yields (x,x),(y,y)
    // but no duplicates (SPARQL §18.4 set semantics)
    val plus = rows2("SELECT ?s ?o WHERE { ?s <knows>+ ?o . } ORDER BY ?s ?o")
    assert(plus === Seq(
      ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
      ("x", "x"), ("x", "y"), ("y", "x"), ("y", "y")))

    // p+ seeded by a constant subject: BFS regime, same answers
    val fromA = Sparql.run(triples,
      "SELECT ?o WHERE { <a> <knows>+ ?o . } ORDER BY ?o")
      .collect().map(_.getString(0)).toSeq
    assert(fromA === Seq("b", "c", "d"))
    // constant OBJECT: who reaches d
    val toD = Sparql.run(triples,
      "SELECT ?s WHERE { ?s <knows>+ <d> . } ORDER BY ?s")
      .collect().map(_.getString(0)).toSeq
    assert(toD === Seq("a", "b", "c"))

    // p* from a constant includes the zero-length self-binding
    val star = Sparql.run(triples,
      "SELECT ?o WHERE { <a> <knows>* ?o . } ORDER BY ?o")
      .collect().map(_.getString(0)).toSeq
    assert(star === Seq("a", "b", "c", "d"))
    // ...even for a term absent from the graph (SPARQL zero-length rule)
    val ghost = Sparql.run(triples,
      "SELECT ?o WHERE { <zzz> <knows>* ?o . }")
      .collect().map(_.getString(0)).toSeq
    assert(ghost === Seq("zzz"))
    // p* var–var zero-length binds every term of the graph to itself
    val starAll = rows2("SELECT ?s ?o WHERE { ?s <knows>* ?o . }")
    val terms = Seq("a", "b", "c", "d", "x", "y", "acme")
    assert(starAll.toSet === (plus ++ terms.map(t => (t, t))).toSet)

    // p? = zero or one hop
    val opt = Sparql.run(triples,
      "SELECT ?o WHERE { <a> <knows>? ?o . } ORDER BY ?o")
      .collect().map(_.getString(0)).toSeq
    assert(opt === Seq("a", "b"))

    // alternation as a plain isin step, parenthesized and bare
    val alt = rows2(
      "SELECT ?s ?o WHERE { ?s (<knows>|<worksAt>) ?o . FILTER(?s = \"c\") } ORDER BY ?o")
    assert(alt === Seq(("c", "acme"), ("c", "d")))
    val altBare = rows2(
      "SELECT ?s ?o WHERE { ?s <knows>|<worksAt> ?o . FILTER(?s = \"c\") } ORDER BY ?o")
    assert(altBare === alt)

    // Kleene over an alternation set: c reaches acme via worksAt and d
    // via knows; b reaches all of c, d, acme
    val altPlus = Sparql.run(triples,
      "SELECT ?o WHERE { <b> (<knows>|<worksAt>)+ ?o . } ORDER BY ?o")
      .collect().map(_.getString(0)).toSeq
    assert(altPlus === Seq("acme", "c", "d"))

    // Kleene step inside a sequence: one hop then closure
    val seqPlus = Sparql.run(triples,
      "SELECT ?o WHERE { <a> <knows>/<knows>+ ?o . } ORDER BY ?o")
      .collect().map(_.getString(0)).toSeq
    assert(seqPlus === Seq("c", "d"))

    // inverse Kleene: ^knows+ from d walks the chain backwards
    val invPlus = Sparql.run(triples,
      "SELECT ?o WHERE { <d> ^<knows>+ ?o . } ORDER BY ?o")
      .collect().map(_.getString(0)).toSeq
    assert(invPlus === Seq("a", "b", "c"))

    // glued plain-token forms parse too
    assert(Sparql.run(triples,
      "SELECT ?o WHERE { <a> knows+ ?o . } ORDER BY ?o")
      .collect().map(_.getString(0)).toSeq === fromA)

    // repeated variable: ?n p+ ?n = cycle members only
    val cyc = Sparql.run(triples,
      "SELECT ?n WHERE { ?n <knows>+ ?n . } ORDER BY ?n")
      .collect().map(_.getString(0)).toSeq
    assert(cyc === Seq("x", "y"))
  }

  test("sparql path solutions: sequence is bag, Kleene is set (SPARQL 1.1 §18.4)") {
    import spark.implicits._
    import graft.sparql.Sparql
    // diamond: a→b→d and a→c→d — two distinct length-2 paths a⇝d
    val triples = Seq(
      ("a", "p", "b"), ("a", "p", "c"), ("b", "p", "d"), ("c", "p", "d"))
      .toDF("s", "p", "o")
    // fixed-length sequence path: BAG semantics — one solution PER PATH,
    // the intermediate is a real (non-projected) binding, so a⇝d twice
    val seq2 = Sparql.run(triples,
      "SELECT ?x WHERE { <a> <p>/<p> ?x . }")
      .collect().map(_.getString(0)).toSeq
    assert(seq2 === Seq("d", "d"), "two paths -> two bag solutions")
    // ArbitraryLengthPath: SET semantics — connectivity, not path count;
    // a⇝d once no matter how many routes exist
    val plus = Sparql.run(triples,
      "SELECT ?x WHERE { <a> <p>+ ?x . } ORDER BY ?x")
      .collect().map(_.getString(0)).toSeq
    assert(plus === Seq("b", "c", "d"), "Kleene dedups multi-path pairs")
    // ...and DISTINCT collapses the sequence bag to the set answer
    val dseq = Sparql.run(triples,
      "SELECT DISTINCT ?x WHERE { <a> <p>/<p> ?x . }")
      .collect().map(_.getString(0)).toSeq
    assert(dseq === Seq("d"))
  }

  test("sparql UNION: branch leaving a shared join variable unbound is rejected") {
    import spark.implicits._
    import graft.sparql.Sparql
    val triples = Seq(("a", "knows", "b"), ("a", "age", "41"))
      .toDF("s", "p", "o")
    // ?y joins the union block with the top-level pattern but the second
    // branch never binds it — §18.3 compatibility: the unbound ?y is
    // compatible with (and adopts) the pattern binding, so the second
    // branch survives with ?y = a; the first branch's ?y = b finds no
    // age and drops
    val compat = Sparql.run(triples,
      """SELECT ?x ?y WHERE {
        |  { ?x <knows> ?y . } UNION { ?x <age> ?z . }
        |  ?y <age> ?w .
        |}""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(compat === Seq(("a", "a")))
    // both branches binding the join variable still executes
    val ok = Sparql.run(triples,
      """SELECT ?x ?y WHERE {
        |  { ?x <knows> ?y . } UNION { ?x <age> ?y . }
        |  ?x <age> "41" .
        |} ORDER BY ?y""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(ok === Seq(("a", "41"), ("a", "b")))
  }

  test("sparql expressions: BIND, arithmetic, string fns, IF, error-as-unbound") {
    import spark.implicits._
    import graft.sparql.Sparql
    val triples = Seq(
      ("a", "age", "41"), ("b", "age", "7"), ("c", "age", "old"),
      ("a", "name", "Ann"), ("b", "name", "bob"))
      .toDF("s", "p", "o")
    // arithmetic BIND + filter over the alias
    val doubled = Sparql.run(triples,
      """SELECT ?x ?d WHERE { ?x <age> ?a . BIND(?a * 2 AS ?d)
        |  FILTER(?d > 10) } ORDER BY ?x""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(doubled === Seq(("a", 82.0), ("b", 14.0)))
    // non-numeric "old" * 2 → null alias (error = unbound, not a crash);
    // BOUND() sees it
    val unbound = Sparql.run(triples,
      """SELECT ?x WHERE { ?x <age> ?a . BIND(?a * 2 AS ?d)
        |  FILTER(!BOUND(?d)) }""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(unbound === Seq("c"))
    // string builtins chain + CONCAT; later BIND sees earlier alias
    val tagged = Sparql.run(triples,
      """SELECT ?x ?t WHERE { ?x <name> ?n .
        |  BIND(UCASE(?n) AS ?u) . BIND(CONCAT(?u, "/", STR(STRLEN(?n))) AS ?t)
        |} ORDER BY ?x""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(tagged === Seq(("a", "ANN/3"), ("b", "BOB/3")))
    // IF + comparison inside an expression position; a type-error
    // condition (non-numeric "old" in a numeric comparison) propagates
    // per §17.4.1.2 — the alias stays UNBOUND, never the else-branch
    val band = Sparql.run(triples,
      """SELECT ?x ?b WHERE { ?x <age> ?a .
        |  BIND(IF(?a >= 18, "adult", "minor") AS ?b) } ORDER BY ?x""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(band === Seq(("a", "adult"), ("b", "minor"), ("c", null)))
    // SUBSTR (1-based), REPLACE (regex), LCASE, COALESCE over OPTIONAL null
    val s1 = Sparql.run(triples,
      """SELECT ?x ?v WHERE { ?x <age> ?a . OPTIONAL { ?x <name> ?n . }
        |  BIND(COALESCE(?n, "?") AS ?v) } ORDER BY ?x""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(s1 === Seq(("a", "Ann"), ("b", "bob"), ("c", "?")))
    val s2 = Sparql.run(triples,
      """SELECT ?v WHERE { <a> <name> ?n .
        |  BIND(REPLACE(LCASE(SUBSTR(?n, 1, 2)), "n+", "N") AS ?v) }""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(s2 === Seq("aN"))
    // §17.4.4 hashes (known vectors) + §17.4.2.8 percent-encoding
    val hashed = Sparql.run(triples,
      """SELECT ?h5 ?h1 ?h256 ?enc WHERE { <a> <name> ?n .
        |  BIND(MD5("abc") AS ?h5) BIND(SHA1("abc") AS ?h1)
        |  BIND(SHA256("abc") AS ?h256)
        |  BIND(ENCODE_FOR_URI("Los Angeles/~*") AS ?enc) }""".stripMargin)
      .collect()(0)
    assert(hashed.getString(0) === "900150983cd24fb0d6963f7d28e17f72")
    assert(hashed.getString(1) === "a9993e364706816aba3e25717850c26c9cd0d89d")
    assert(hashed.getString(2) ===
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(hashed.getString(3) === "Los%20Angeles%2F~%2A")
    // rebinding and forward references are parse-time errors
    val e1 = intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?x WHERE { ?x <age> ?a . BIND(1 + 1 AS ?a) }"))
    assert(e1.getMessage.contains("rebind"))
    val e2 = intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?x WHERE { ?x <age> ?a . BIND(?later AS ?b) }"))
    assert(e2.getMessage.contains("unbound"))
  }

  test("sparql FILTER builtins: REGEX, STRSTARTS/ENDS/CONTAINS, IN / NOT IN") {
    import spark.implicits._
    import graft.sparql.Sparql
    val triples = Seq(
      ("a", "name", "Annette"), ("b", "name", "bob"), ("c", "name", "Carol"),
      ("a", "seg", "AUTO"), ("b", "seg", "BUILDING"), ("c", "seg", "STEEL"))
      .toDF("s", "p", "o")
    def names(q: String): Seq[String] =
      Sparql.run(triples, q).collect().map(_.getString(0)).sorted.toSeq
    assert(names("SELECT ?x WHERE { ?x <name> ?n . FILTER(REGEX(?n, \"^ann\", \"i\")) }")
      === Seq("a"))
    assert(names("SELECT ?x WHERE { ?x <name> ?n . FILTER(STRSTARTS(?n, \"C\")) }")
      === Seq("c"))
    assert(names("SELECT ?x WHERE { ?x <name> ?n . FILTER(STRENDS(?n, \"ol\")) }")
      === Seq("c"))
    assert(names("SELECT ?x WHERE { ?x <name> ?n . FILTER(CONTAINS(?n, \"nn\")) }")
      === Seq("a"))
    assert(names(
      "SELECT ?x WHERE { ?x <seg> ?s . FILTER(?s IN (\"AUTO\", \"STEEL\")) }")
      === Seq("a", "c"))
    assert(names(
      "SELECT ?x WHERE { ?x <seg> ?s . FILTER(?s NOT IN (\"AUTO\", \"STEEL\")) }")
      === Seq("b"))
    // boolean combinations still compose around the new atoms
    assert(names(
      """SELECT ?x WHERE { ?x <name> ?n . ?x <seg> ?s .
        |  FILTER(CONTAINS(?n, "o") && !(?s IN ("STEEL"))) }""".stripMargin)
      === Seq("b"))
    // IN list members must be constants
    intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?x WHERE { ?x <seg> ?s . FILTER(?s IN (?x)) }"))
  }

  test("sparql negated property sets and DESCRIBE") {
    import spark.implicits._
    import graft.sparql.Sparql
    val triples = Seq(
      ("a", "knows", "b"), ("a", "age", "41"), ("a", "name", "Ann"),
      ("b", "likes", "c"), ("c", "age", "9"))
      .toDF("s", "p", "o")
    // !p and !(p1|p2) — NOT-isin scans binding both endpoints
    val notKnows = Sparql.run(triples,
      "SELECT ?x ?y WHERE { ?x !<knows> ?y . } ORDER BY ?x ?y")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(notKnows === Seq(("a", "41"), ("a", "Ann"), ("b", "c"), ("c", "9")))
    val notSet = Sparql.run(triples,
      "SELECT ?x ?y WHERE { ?x !(<knows>|<age>|<name>) ?y . }")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(notSet === Seq(("b", "c")))
    // inverting the whole set stays rejected (^!p is not SPARQL);
    // inverse MEMBERS !(p|^q) are supported — see the dedicated test
    intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?x ?y WHERE { ?x ^!<knows> ?y . }"))
    // DESCRIBE <iri>: every triple with the resource as subject or object
    val dA = Sparql.run(triples, "DESCRIBE <a>")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(dA === Set(("a", "knows", "b"), ("a", "age", "41"), ("a", "name", "Ann")))
    val dB = Sparql.run(triples, "DESCRIBE <b>")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(dB === Set(("a", "knows", "b"), ("b", "likes", "c")))
    // DESCRIBE ?var WHERE — resources resolved from the solutions
    val dVar = Sparql.run(triples,
      "DESCRIBE ?x WHERE { ?x <age> ?a . FILTER(?a > 18) }")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(dVar === dA)
    // mixed constants + vars, duplicates collapse (a set of triples)
    val dMix = Sparql.run(triples,
      "DESCRIBE <b> ?x WHERE { ?x <name> ?n . }")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(dMix === (dA ++ dB))
    intercept[IllegalArgumentException](Sparql.parse("DESCRIBE"))
    intercept[IllegalArgumentException](Sparql.parse(
      "DESCRIBE ?x WHERE { ?y <age> ?a . }"))
    // bare variable predicate: unfiltered scan binding ?p (single-step
    // only; multi-step paths with variables stay rejected)
    val preds = Sparql.run(triples,
      "SELECT ?p ?y WHERE { <a> ?p ?y . } ORDER BY ?p")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(preds === Seq(("age", "41"), ("knows", "b"), ("name", "Ann")))
    intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?x ?y WHERE { ?x ?p/<likes> ?y . }"))
  }

  test("sparql negated sets with inverse members: !(p|^q) splits and unions") {
    import spark.implicits._
    import graft.sparql.Sparql
    val triples = Seq(
      ("a", "knows", "b"), ("b", "likes", "c"), ("c", "sees", "a"))
      .toDF("s", "p", "o")
    // pure inverse: !^likes matches (x,y) when some (y,q,x) has q≠likes
    val pureInv = Sparql.run(triples,
      "SELECT ?x ?y WHERE { ?x !^<likes> ?y . } ORDER BY ?x ?y")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(pureInv === Seq(("a", "c"), ("b", "a")))
    // mixed: forward scan (p ∉ {knows}) ∪ swapped inverse scan (q ∉ {sees})
    val mixed = Sparql.run(triples,
      "SELECT ?x ?y WHERE { ?x !(<knows>|^<sees>) ?y . } ORDER BY ?x ?y")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // forward: (b,c) likes, (c,a) sees; inverse: (b,a) from a-knows-b,
    // (c,b) from b-likes-c — (a,c) from c-sees-a is excluded (q=sees)
    assert(mixed === Seq(("b", "a"), ("b", "c"), ("c", "a"), ("c", "b")))
    // Kleene COMPOSES with negated sets (§9.1 + §18.4): the closure of
    // the mixed complement step set above adds the two-hop returns
    // (b,b) and (c,c); a has no outgoing complement edge
    val negPlus = Sparql.run(triples,
      "SELECT ?x ?y WHERE { ?x !(<knows>|^<sees>)+ ?y . } ORDER BY ?x ?y")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(negPlus === Seq(("b", "a"), ("b", "b"), ("b", "c"),
      ("c", "a"), ("c", "b"), ("c", "c")))
  }

  test("sparql GROUP_CONCAT / SAMPLE / HAVING and the new builtins") {
    import spark.implicits._
    import graft.sparql.Sparql
    val triples = Seq(
      ("a", "likes", "tea"), ("a", "likes", "figs"), ("b", "likes", "tea"),
      ("a", "score", "2.6"), ("b", "score", "-1.2"), ("c", "score", "x"))
      .toDF("s", "p", "o")
    // GROUP_CONCAT with separator: sorted value order (pinned)
    val gc = Sparql.run(triples,
      """SELECT ?x (GROUP_CONCAT(?v ; SEPARATOR="|") AS ?all) WHERE {
        |  ?x <likes> ?v . } GROUP BY ?x ORDER BY ?x""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(gc === Seq(("a", "figs|tea"), ("b", "tea")))
    // default separator is a single space; SAMPLE picks MIN (pinned)
    val gc2 = Sparql.run(triples,
      """SELECT (GROUP_CONCAT(?v) AS ?all) (SAMPLE(?v) AS ?one) WHERE {
        |  ?x <likes> ?v . }""".stripMargin).collect().head
    assert(gc2.getString(0) === "figs tea tea" && gc2.getString(1) === "figs")
    // HAVING filters aggregated groups by alias
    val hv = Sparql.run(triples,
      """SELECT ?x (COUNT(?v) AS ?n) WHERE { ?x <likes> ?v . }
        |GROUP BY ?x HAVING (?n > 1)""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(hv === Seq(("a", 2L)))
    // HAVING scope: only group keys and aliases
    val e = intercept[IllegalArgumentException](Sparql.parse(
      """SELECT ?x (COUNT(?v) AS ?n) WHERE { ?x <likes> ?v . }
        |GROUP BY ?x HAVING (?v > 1)""".stripMargin))
    assert(e.getMessage.contains("HAVING"))
    // STRBEFORE / STRAFTER per fn:substring-before/-after
    val sb = Sparql.run(triples,
      """SELECT ?b ?af ?miss ?emp WHERE { <a> <likes> "tea" .
        |  BIND(STRBEFORE("figs|tea", "|") AS ?b)
        |  BIND(STRAFTER("figs|tea", "|") AS ?af)
        |  BIND(STRAFTER("figs", "z") AS ?miss)
        |  BIND(STRAFTER("figs", "") AS ?emp) }""".stripMargin).collect().head
    assert(sb.getString(0) === "figs" && sb.getString(1) === "tea" &&
      sb.getString(2) === "" && sb.getString(3) === "figs")
    // numeric builtins on the try_cast view; non-numeric → unbound
    val nb = Sparql.run(triples,
      """SELECT ?x ?a ?r ?c ?f WHERE { ?x <score> ?v .
        |  BIND(ABS(?v) AS ?a) . BIND(ROUND(?v) AS ?r)
        |  BIND(CEIL(?v) AS ?c) . BIND(FLOOR(?v) AS ?f) } ORDER BY ?x""".stripMargin)
      .collect().map(r => (r.getString(0),
        Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), Option(r.get(4)))).toSeq
    assert(nb === Seq(
      ("a", Some(2.6), Some(3.0), Some(3.0), Some(2.0)),
      ("b", Some(1.2), Some(-1.0), Some(-1.0), Some(-2.0)),
      ("c", None, None, None, None)))
    // isNumeric: true only for bindings carrying the numeric view
    val isn = Sparql.run(triples,
      "SELECT ?x WHERE { ?x <score> ?v . FILTER(ISNUMERIC(?v)) } ORDER BY ?x")
      .collect().map(_.getString(0)).toSeq
    assert(isn === Seq("a", "b"))
  }

  test("sparql sub-SELECT: bottom-up evaluation, projection-only visibility, joins") {
    import spark.implicits._
    import graft.sparql.Sparql
    val triples = Seq(
      ("a", "in", "g1"), ("b", "in", "g1"), ("c", "in", "g2"),
      ("a", "score", "3"), ("b", "score", "5"), ("c", "score", "4"),
      ("a", "name", "Ann"), ("b", "name", "Bob"), ("c", "name", "Cat"))
      .toDF("s", "p", "o")
    // classic §12 shape: aggregate per group inside, join details outside
    val top = Sparql.run(triples,
      """SELECT ?g ?x ?v WHERE {
        |  ?x <in> ?g . ?x <score> ?v .
        |  { SELECT ?g (MAX(?s2) AS ?mx) WHERE {
        |      ?y <in> ?g . ?y <score> ?s2 . } GROUP BY ?g }
        |  FILTER(?v = ?mx)
        |} ORDER BY ?g""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(top === Seq(("g1", "b", "5"), ("g2", "c", "4")))
    // only projected variables are visible: ?y stays inside
    intercept[org.apache.spark.sql.AnalysisException](Sparql.run(triples,
      """SELECT ?x WHERE {
        |  ?x <in> ?g .
        |  { SELECT ?g (MAX(?s2) AS ?mx) WHERE {
        |      ?y <in> ?g . ?y <score> ?s2 . } GROUP BY ?g }
        |  FILTER(?y = ?x)
        |} """.stripMargin).collect())
    // subquery-only group, with its own modifiers
    val solo = Sparql.run(triples,
      """SELECT ?x WHERE {
        |  { SELECT ?x ?v WHERE { ?x <score> ?v . } ORDER BY DESC(?v) LIMIT 2 }
        |} ORDER BY ?x""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(solo === Seq("b", "c"))
    // joining on an aggregate ALIAS: §18.3 compat stratifies the
    // maybe-unbound subquery side — the bound stratum equi-joins the
    // outer scores (only b holds the MAX of 5)
    val aggKey = Sparql.run(triples,
      """SELECT ?x WHERE {
        |  ?x <score> ?mx .
        |  { SELECT (MAX(?s2) AS ?mx) WHERE { ?y <score> ?s2 . } }
        |}""".stripMargin).collect().map(_.getString(0)).toSeq
    assert(aggKey === Seq("b"))
    // a subquery must be a SELECT
    intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?x WHERE { { ASK WHERE { ?x <in> ?g . } } }"))
    // several subqueries per group fold left-to-right, each joining on
    // its projected variables — here per-group MAX and per-group COUNT
    val two = Sparql.run(triples,
      """SELECT ?g ?mx ?n WHERE {
        |  { SELECT ?g (MAX(?s1) AS ?mx) WHERE {
        |      ?y <in> ?g . ?y <score> ?s1 . } GROUP BY ?g }
        |  { SELECT ?g (COUNT(?z) AS ?n) WHERE {
        |      ?z <in> ?g . } GROUP BY ?g }
        |} ORDER BY ?g""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(two === Seq(("g1", "5", 2L), ("g2", "4", 1L)))
  }

  test("sparql FILTER inside blocks: OPTIONAL keeps rows, UNION/MINUS prune theirs") {
    import spark.implicits._
    import graft.sparql.Sparql
    val triples = Seq(
      ("a", "age", "41"), ("b", "age", "7"), ("c", "age", "19"),
      ("a", "knows", "b"), ("b", "knows", "c"), ("c", "knows", "a"))
      .toDF("s", "p", "o")
    // the LeftJoin distinction: the filter inside OPTIONAL decides
    // whether the optional part binds — the row itself survives either
    // way (a top-level filter would DROP b entirely)
    val opt = Sparql.run(triples,
      """SELECT ?x ?a WHERE { ?x <knows> ?y .
        |  OPTIONAL { ?x <age> ?a . FILTER(?a > 10) } } ORDER BY ?x""".stripMargin)
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSeq
    assert(opt === Seq(("a", Some("41")), ("b", None), ("c", Some("19"))))
    // filter inside a UNION branch prunes only that branch
    val uni = Sparql.run(triples,
      """SELECT ?x WHERE {
        |  { ?x <age> ?a . FILTER(?a > 20) } UNION { ?x <knows> "c" . }
        |} ORDER BY ?x""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(uni === Seq("a", "b"))
    // filter inside MINUS narrows what is subtracted
    val min = Sparql.run(triples,
      """SELECT ?x WHERE { ?x <knows> ?y .
        |  MINUS { ?x <age> ?a . FILTER(?a > 10) } } ORDER BY ?x""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(min === Seq("b"))
    // and inside FILTER EXISTS
    val ex = Sparql.run(triples,
      """SELECT ?x WHERE { ?x <knows> ?y .
        |  FILTER EXISTS { ?x <age> ?a . FILTER(?a < 10) } }""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(ex === Seq("b"))
    // an OPTIONAL filter referencing an OUTER variable is the
    // three-argument LeftJoin condition (§18.2.2.3): only a (41) knows
    // someone younger than itself — b and c survive BARE, never drop
    // (?ya * 1 forces the NUMERIC view — a bare var-var comparison is
    // lexical over untyped literals)
    val cross = Sparql.run(triples,
      """SELECT ?x ?ya WHERE { ?x <age> ?outer .
        |  OPTIONAL { ?x <knows> ?y . ?y <age> ?ya . FILTER(?ya * 1 < ?outer) } }
        |ORDER BY ?x""".stripMargin)
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSeq
    assert(cross === Seq(("a", Some("7")), ("b", None), ("c", None)))
    // correlated EXISTS (outer var in the block filter): who knows
    // someone younger? — semi-join with the condition inside the join
    val crossEx = Sparql.run(triples,
      """SELECT ?x WHERE { ?x <age> ?outer .
        |  FILTER EXISTS { ?x <knows> ?y . ?y <age> ?ya . FILTER(?ya * 1 < ?outer) } }""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(crossEx === Seq("a"))
    // MINUS and UNION-branch filters stay uncorrelated (§8.3 MINUS has
    // no substitution; a branch is an independent group): still rejected
    val e = intercept[IllegalArgumentException](Sparql.parse(
      """SELECT ?x WHERE { ?x <age> ?outer .
        |  MINUS { ?x <knows> ?y . FILTER(?y = ?outer) } }""".stripMargin))
    assert(e.getMessage.contains("does not bind"))
    intercept[IllegalArgumentException](Sparql.parse(
      """SELECT ?x WHERE { ?x <age> ?outer .
        |  { ?x <knows> ?y . FILTER(?y = ?outer) } UNION { ?x <knows> ?y } }""".stripMargin))
    // CONSTRUCT WHERE shorthand (§10.2.3): the WHERE triples are the
    // template; the result graph is a SET
    val cw = Sparql.run(triples,
      """CONSTRUCT WHERE { ?x <knows> ?y . ?y <age> ?a . }""")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(cw === Set(
      ("a", "knows", "b"), ("b", "age", "7"),
      ("b", "knows", "c"), ("c", "age", "19"),
      ("c", "knows", "a"), ("a", "age", "41")))
    // shorthand rejects anything beyond plain triples
    intercept[IllegalArgumentException](Sparql.parse(
      "CONSTRUCT WHERE { ?x <knows> ?y . FILTER(?x = \"a\") }"))
    intercept[IllegalArgumentException](Sparql.parse(
      "CONSTRUCT WHERE { ?x <knows>+ ?y . }"))
  }

  test("sparql PREFIX declarations expand pfx:local names everywhere") {
    import spark.implicits._
    import graft.sparql.Sparql
    val triples = Seq(
      ("ex/a", "voc/knows", "ex/b"), ("ex/b", "voc/knows", "ex/c"),
      ("ex/a", "voc/age", "41"))
      .toDF("s", "p", "o")
    // prefixed names in subject/predicate/object positions, paths, and
    // the default ':' prefix
    val out = Sparql.run(triples,
      """PREFIX v: <voc/>
        |PREFIX : <ex/>
        |SELECT ?z WHERE { :a v:knows/v:knows ?z . }""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(out === Seq("ex/c"))
    val flt = Sparql.run(triples,
      """PREFIX v: <voc/>
        |SELECT ?x WHERE { ?x v:age ?a . FILTER(?a > 10) }""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(flt === Seq("ex/a"))
    // negated sets and alternations expand too
    val neg = Sparql.run(triples,
      "PREFIX v: <voc/> SELECT ?x ?y WHERE { ?x !v:knows ?y . }")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(neg === Seq(("ex/a", "41")))
    // undeclared prefix is an error, not a silent literal
    val e = intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?x WHERE { ?x nope:age ?a . }"))
    assert(e.getMessage.contains("undeclared prefix"))
  }

  test("sparql aggregates over expressions: SUM(?a * ?b), COUNT(IF), STRLEN args") {
    import spark.implicits._
    import graft.sparql.Sparql
    val triples = Seq(
      ("a", "qty", "2"), ("a", "price", "10"),
      ("b", "qty", "3"), ("b", "price", "7"),
      ("a", "name", "Ann"), ("b", "name", "Bo"))
      .toDF("s", "p", "o")
    // SUM over a product of two bindings; AVG over arithmetic
    val rev = Sparql.run(triples,
      """SELECT (SUM(?q * ?pr) AS ?rev) (AVG(?q + 1) AS ?aq) WHERE {
        |  ?x <qty> ?q . ?x <price> ?pr . }""".stripMargin).collect().head
    assert(rev.getDouble(0) === 41.0 && rev.getDouble(1) === 3.5)
    // MAX over a string function; COUNT over a conditional expression
    // (IF yields null on the else-with-no-value path? no — COUNT counts
    // non-null, so route the "skip" branch through an unbound COALESCE)
    val mx = Sparql.run(triples,
      """SELECT (MAX(STRLEN(?n)) AS ?ml)
        |  (SUM(IF(?n = "Ann", 1, 0)) AS ?anns) WHERE {
        |  ?x <name> ?n . }""".stripMargin).collect().head
    assert(mx.getInt(0) === 3 && mx.getDouble(1) === 1.0)
    // grouped expression aggregate
    val g = Sparql.run(triples,
      """SELECT ?x (SUM(?q * ?pr) AS ?rev) WHERE {
        |  ?x <qty> ?q . ?x <price> ?pr . } GROUP BY ?x ORDER BY ?x""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(g === Seq(("a", 20.0), ("b", 21.0)))
    // unknown variable inside the aggregate expression still rejects
    intercept[IllegalArgumentException](Sparql.parse(
      "SELECT (SUM(?nope * 2) AS ?s) WHERE { ?x <qty> ?q . }"))
  }

  test("sparql MINUS inside blocks: anti-joins the block frame, disjoint no-op") {
    import spark.implicits._
    import graft.sparql.Sparql
    val triples = Seq(
      ("a", "tag", "x"), ("b", "tag", "y"), ("c", "tag", "z"),
      ("a", "score", "1"), ("b", "score", "2"), ("c", "score", "3"),
      ("x", "bad", "1"))
      .toDF("s", "p", "o")
    // MINUS inside an OPTIONAL removes matching block solutions — tag
    // "x" is bad, so a's optional part doesn't bind; outer rows survive
    val opt = Sparql.run(triples,
      """SELECT ?s ?t WHERE { ?s <score> ?v .
        |OPTIONAL { ?s <tag> ?t . MINUS { ?t <bad> ?z . } } } ORDER BY ?s""".stripMargin)
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSeq
    assert(opt === Seq(("a", None), ("b", Some("y")), ("c", Some("z"))))
    // disjoint domains: MINUS removes nothing (SPARQL 1.1 §8.3)
    val noop = Sparql.run(triples,
      """SELECT ?s ?t WHERE { ?s <score> ?v .
        |OPTIONAL { ?s <tag> ?t . MINUS { ?q <bad> ?z . } } } ORDER BY ?s""".stripMargin)
      .collect().map(r => Option(r.getString(1))).toSeq
    assert(noop === Seq(Some("x"), Some("y"), Some("z")))
    // a MINUS keyed on a block BIND alias (maybe-unbound) runs through
    // the in-block §18.3 compat join — ?u = x matches the bad list, so
    // a's optional part doesn't bind
    val bindKey = Sparql.run(triples,
      """SELECT ?s ?t WHERE { ?s <score> ?v .
        |OPTIONAL { ?s <tag> ?t . BIND(?t AS ?u) . MINUS { ?u <bad> ?z . } } }
        |ORDER BY ?s""".stripMargin)
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSeq
    assert(bindKey === Seq(("a", None), ("b", Some("y")), ("c", Some("z"))))
  }

  test("sparql FILTER EXISTS inside blocks: semi-joins the block frame") {
    import spark.implicits._
    import graft.sparql.Sparql
    val triples = Seq(
      ("a", "tag", "x"), ("b", "tag", "y"), ("c", "tag", "z"),
      ("a", "score", "1"), ("b", "score", "2"), ("c", "score", "3"),
      ("x", "flag", "1"), ("z", "flag", "1"))
      .toDF("s", "p", "o")
    // EXISTS inside an OPTIONAL: decides the optional binding (tag kept
    // only when a flag triple exists for it); outer rows all survive
    val opt = Sparql.run(triples,
      """SELECT ?s ?t WHERE { ?s <score> ?v .
        |OPTIONAL { ?s <tag> ?t . FILTER EXISTS { ?t <flag> ?f . } } }
        |ORDER BY ?s""".stripMargin)
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSeq
    assert(opt === Seq(("a", Some("x")), ("b", None), ("c", Some("z"))))
    // NOT EXISTS inside a UNION branch prunes only that branch
    val uni = Sparql.run(triples,
      """SELECT ?s ?t WHERE {
        |{ ?s <tag> ?t . FILTER NOT EXISTS { ?t <flag> ?f . } } UNION
        |{ ?s <tag> ?t . FILTER EXISTS { ?t <flag> ?f . } } } ORDER BY ?s""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(uni === Seq(("a", "x"), ("b", "y"), ("c", "z")))
    // no shared variable: a pure existence probe over the block
    val probe = Sparql.run(triples,
      """SELECT ?s WHERE { ?s <score> ?v .
        |OPTIONAL { ?s <tag> ?t . FILTER EXISTS { ?q <flag> "1" . } } }
        |ORDER BY ?s""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(probe === Seq("a", "b", "c"))
    // an EXISTS keyed on a block BIND alias (maybe-unbound) runs
    // through the in-block §18.3 compat semi-join
    val bindKey = Sparql.run(triples,
      """SELECT ?s ?t WHERE { ?s <score> ?v .
        |OPTIONAL { ?s <tag> ?t . BIND(?t AS ?u) .
        |           FILTER EXISTS { ?u <flag> ?f . } } } ORDER BY ?s""".stripMargin)
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSeq
    assert(bindKey === Seq(("a", Some("x")), ("b", None), ("c", Some("z"))))
  }

  test("sparql VALUES inside blocks: constrains the block, LeftJoin intact") {
    import spark.implicits._
    import graft.sparql.Sparql
    val triples = Seq(
      ("a", "tag", "x"), ("b", "tag", "y"), ("c", "tag", "z"),
      ("a", "score", "1"), ("b", "score", "2"), ("c", "score", "3"))
      .toDF("s", "p", "o")
    // VALUES inside an OPTIONAL: decides the optional BINDING — rows
    // whose tag is outside the data keep a null, never disappear
    val opt = Sparql.run(triples,
      """SELECT ?s ?t WHERE { ?s <score> ?v .
        |OPTIONAL { ?s <tag> ?t . VALUES ?t { "x" "z" } } } ORDER BY ?s""".stripMargin)
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSeq
    assert(opt === Seq(("a", Some("x")), ("b", None), ("c", Some("z"))))
    // VALUES inside a UNION branch constrains only that branch
    val uni = Sparql.run(triples,
      """SELECT ?s ?t WHERE {
        |{ ?s <tag> ?t . VALUES ?t { "x" } } UNION
        |{ ?s <tag> ?t . VALUES ?t { "y" "z" } } } ORDER BY ?s""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(uni === Seq(("a", "x"), ("b", "y"), ("c", "z")))
    // reject: an inline var the block does not bind
    intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?s WHERE { ?s <score> ?v . OPTIONAL { ?s <tag> ?t . VALUES ?w { \"x\" } } }"))
  }

  test("sparql nested OPTIONAL: LeftJoin nests bottom-up, freshness rejects") {
    import spark.implicits._
    import graft.sparql.Sparql
    val triples = Seq(
      ("a", "p", "m"), ("b", "p", "n"), ("c", "p", "o"),
      ("m", "q", "1"), ("n", "q", "2"),
      ("1", "r", "deep"))
      .toDF("s", "p", "o")
    // the classic chain: x always binds, y optionally, z only where the
    // inner optional ALSO matches — three depths of nullability
    val rows = Sparql.run(triples,
      """SELECT ?x ?y ?z WHERE { ?x <p> ?m .
        |OPTIONAL { ?m <q> ?y . OPTIONAL { ?y <r> ?z . } } } ORDER BY ?x""".stripMargin)
      .collect().map(r => (r.getString(0),
        Option(r.getString(1)), Option(r.getString(2)))).toSeq
    assert(rows === Seq(
      ("a", Some("1"), Some("deep")),
      ("b", Some("2"), None),
      ("c", None, None)))
    // inner-optional rows never create outer rows (left, not full)
    assert(rows.size === 3)
    // a nested var COLLIDING with an outer pattern var: the block's ?z
    // is right-nullable — b's block row leaves it unbound (compatible,
    // keeps the outer z), a's binds z = deep ≠ outer z (incompatible →
    // bare); §18.3 both-sides stratification
    val collide = Sparql.run(triples,
      """SELECT ?x ?z ?y WHERE { ?x <p> ?m . ?w <q> ?z .
        |OPTIONAL { ?m <q> ?y . OPTIONAL { ?y <r> ?z . } } }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)))).toSeq.sorted
    assert(collide === Seq(
      ("a", "1", None), ("a", "2", None),
      ("b", "1", Some("2")), ("b", "2", Some("2")),
      ("c", "1", None), ("c", "2", None)))
    // the same nested var in TWO optionals: the second block's z-bound
    // stratum must agree with the first's binding (deep = deep for a)
    val twice = Sparql.run(
      triples.unionByName(Seq(("m", "s", "1")).toDF("s", "p", "o")),
      """SELECT ?x ?y ?z ?u WHERE { ?x <p> ?m .
        |OPTIONAL { ?m <q> ?y . OPTIONAL { ?y <r> ?z . } }
        |OPTIONAL { ?m <s> ?u . OPTIONAL { ?u <r> ?z . } } }""".stripMargin)
      .collect().map(r => (r.getString(0), Option(r.getString(1)),
        Option(r.getString(2)), Option(r.getString(3)))).toSeq.sorted
    assert(twice === Seq(
      ("a", Some("1"), Some("deep"), Some("1")),
      ("b", Some("2"), None, None),
      ("c", None, None, None)))
    // an ALIAS collision stays rejected (withColumn would rebind)
    intercept[IllegalArgumentException](Sparql.parse(
      """SELECT ?x WHERE { ?x <p> ?m . BIND(1 + 1 AS ?z)
        |OPTIONAL { ?m <q> ?y . OPTIONAL { ?y <r> ?z . } } }""".stripMargin))
  }

  test("sparql named graphs: GRAPH, FROM, FROM NAMED over a quad frame (§13)") {
    import spark.implicits._
    import graft.sparql.Sparql
    val quads = Seq(
      (null, "a", "type", "Doc"), (null, "b", "type", "Doc"),
      ("g1", "a", "score", "5"), ("g1", "b", "score", "7"),
      ("g2", "a", "score", "9"), ("g2", "x", "tag", "t1"))
      .toDF("g", "s", "p", "o")
    def rows(q: String): Seq[String] = Sparql.run(quads, q).collect().toSeq
      .map(r => (0 until r.length)
        .map(i => Option(r.get(i)).map(_.toString).getOrElse("∅")).mkString(","))
      .sorted
    // GRAPH <iri> pins one named graph; the default graph still serves
    // the surrounding patterns
    assert(rows("SELECT ?s ?v WHERE { ?s <type> ?t . GRAPH <g1> { ?s <score> ?v } }")
      === Seq("a,5", "b,7"))
    // GRAPH ?g ranges over the named graphs and binds per solution
    assert(rows("SELECT ?g ?s ?v WHERE { GRAPH ?g { ?s <score> ?v } }")
      === Seq("g1,a,5", "g1,b,7", "g2,a,9"))
    // §13.3 same-graph scoping: both patterns must match in ONE graph
    assert(rows("SELECT ?g WHERE { GRAPH ?g { ?a <score> ?v . ?x <tag> ?t2 } }")
      === Seq("g2"))
    // FROM merges the named graph into the DEFAULT graph…
    assert(rows("SELECT ?s ?v FROM <g1> WHERE { ?s <score> ?v }")
      === Seq("a,5", "b,7"))
    // …and a dataset clause with only FROM leaves the named set EMPTY
    assert(rows("SELECT ?s FROM <g1> WHERE { GRAPH ?g { ?s <score> ?v } }")
      === Seq.empty[String])
    // FROM NAMED restricts what GRAPH ?g ranges over
    assert(rows("SELECT ?g ?s FROM NAMED <g2> WHERE { GRAPH ?g { ?s <score> ?v } }")
      === Seq("g2,a"))
    // no dataset clause: the default graph is exactly the g-null rows
    assert(rows("SELECT ?s WHERE { ?s <type> \"Doc\" }") === Seq("a", "b"))
    // plain triple frames reject GRAPH / FROM with a clear message
    val t3 = Seq(("a", "p", "1")).toDF("s", "p", "o")
    val e = intercept[IllegalArgumentException](Sparql.run(t3,
      "SELECT ?s WHERE { GRAPH ?g { ?s <p> ?o } }"))
    assert(e.getMessage.contains("quad frame"))
    // N-Quads ingest: the optional 4th term names the graph, plain
    // N-Triples lines land in the default graph
    val lines = Seq(
      "<a> <type> \"Doc\" .",
      "<a> <score> \"5\" <g1> .",
      "# comment", "",
      "b score 7 g1 .").toDF("value")
    val parsed = graft.sources.GraphSources.parseRdfQuads(lines)
      .collect().map(r => Seq(Option(r.getString(0)).getOrElse("∅"),
        r.getString(1), r.getString(2), r.getString(3)).mkString(",")).sorted
    assert(parsed === Seq("g1,a,score,5", "g1,b,score,7", "∅,a,type,Doc"))
    assert(rows("SELECT ?g ?v WHERE { GRAPH ?g { ?a <score> ?v } FILTER(?v > 6) }")
      === Seq("g1,7", "g2,9"))
  }

  test("N-Quads: lang tags, datatype suffixes, escaped quotes; rejects surfaced") {
    import spark.implicits._
    val lines = Seq(
      "<a> <label> \"hello world\"@en <g1> .",          // spaced lang literal
      "<a> <count> \"5\"^^<http://ns/int> .",            // datatype suffix
      "<a> <quote> \"say \\\"hi\\\"\" <g1> .",           // escaped quotes
      "<a> <label> \"x\"@en-GB .",                       // region subtag
      "<a> <p> \"unterminated literal .",                // unparseable
      "# comment").toDF("value")
    val parsed = graft.sources.GraphSources.parseRdfQuads(lines)
      .collect().map(r => Seq(Option(r.getString(0)).getOrElse("∅"),
        r.getString(1), r.getString(2), r.getString(3)).mkString(",")).sorted
    assert(parsed === Seq(
      "g1,a,label,hello world",
      "g1,a,quote,say \"hi\"",
      "∅,a,count,5",
      "∅,a,label,x"))
    // the malformed non-comment line is surfaced, not silently lost
    val rejects = graft.sources.GraphSources.rdfQuadRejects(lines)
      .collect().map(_.getString(0))
    assert(rejects.toSeq === Seq("<a> <p> \"unterminated literal ."))
  }

  test("BIND over a frame-missing variable evaluates with it unbound (§18.2.2.5)") {
    import spark.implicits._
    import graft.sparql.Sparql
    val t = Seq(("a", "p", "1"), ("b", "p", "2"), ("b", "later", "L"))
      .toDF("s", "p", "o")
    // ?q is bound only by a LATER group element: at BIND time COALESCE
    // sees the var unbound (null), not a short-circuited whole-alias null
    assert(Sparql.run(t,
      """SELECT ?s ?v ?q WHERE { ?s <p> ?o .
        |BIND(COALESCE(?q, "d") AS ?v) OPTIONAL { ?s <later> ?q } }""".stripMargin)
      .collect().map(r => r.getString(0) + "," + r.getString(1) + "," +
        Option(r.getString(2)).getOrElse("∅")).sorted.toSeq
      === Seq("a,d,∅", "b,d,L"))
    // where the error DOES propagate, the alias is unbound (null):
    // CONCAT over the missing var nulls out, per-row
    assert(Sparql.run(t,
      """SELECT ?s ?v WHERE { ?s <p> ?o . BIND(CONCAT(?q, "!") AS ?v)
        |OPTIONAL { ?s <later> ?q } }""".stripMargin)
      .collect().map(r => Option(r.getString(1)).getOrElse("∅")).distinct
      .toSeq === Seq("∅"))
  }

  test("sparql results JSON: W3C bindings rows, unbound variables omitted") {
    import spark.implicits._
    import graft.sparql.Sparql
    val triples = Seq(
      ("a", "tag", "x"), ("b", "tag", "y"), ("a", "score", "7"))
      .toDF("s", "p", "o")
    val df = Sparql.run(triples,
      """SELECT ?s ?v WHERE { ?s <tag> ?t .
        |OPTIONAL { ?s <score> ?v . } } ORDER BY ?s""".stripMargin)
    assert(Sparql.headJson(df) === """{"head":{"vars":["s","v"]}}""")
    val rows = Sparql.bindingsJson(df).collect().map(_.getString(0)).toSeq
    assert(rows === Seq(
      """{"s":{"type":"literal","value":"a"},"v":{"type":"literal","value":"7"}}""",
      """{"s":{"type":"literal","value":"b"}}"""))
  }

  test("sparql BIND inside blocks: OPTIONAL/UNION aliases surface, scoping rejects") {
    import spark.implicits._
    import graft.sparql.Sparql
    val triples = Seq(
      ("a", "qty", "2"), ("b", "qty", "3"), ("c", "qty", "4"),
      ("a", "bonus", "10"), ("c", "bonus", "5"))
      .toDF("s", "p", "o")
    // OPTIONAL block BIND: alias computed from the block's own binding,
    // null (unbound) where the optional part doesn't match
    val opt = Sparql.run(triples,
      """SELECT ?x ?dbl WHERE { ?x <qty> ?q .
        |OPTIONAL { ?x <bonus> ?b . BIND(?b * 2 AS ?dbl) } } ORDER BY ?x""".stripMargin)
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSeq
    assert(opt === Seq(("a", Some("20.0")), ("b", None), ("c", Some("10.0"))))
    // UNION branches: each side computes its own alias; the shared
    // alias name null-pads per branch like any branch-local variable
    val uni = Sparql.run(triples,
      """SELECT ?x ?v WHERE {
        |{ ?x <qty> ?q . BIND(?q * 10 AS ?v) } UNION
        |{ ?x <bonus> ?b . BIND(?b * 100 AS ?v) } } ORDER BY ?x ?v""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(uni === Seq(("a", "1000.0"), ("a", "20.0"), ("b", "30.0"),
      ("c", "40.0"), ("c", "500.0")))
    // a block FILTER may reference the block's BIND alias
    val flt = Sparql.run(triples,
      """SELECT ?x WHERE { ?x <qty> ?q .
        |OPTIONAL { ?x <bonus> ?b . BIND(?b * 2 AS ?d) . FILTER(?d > 15) } }
        |ORDER BY ?x""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(flt === Seq("a", "b", "c")) // LeftJoin: filter binds, never drops
    // rejects: alias escaping scope (references an outer-only var),
    // rebinding an outer var, colliding aliases across blocks
    intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?x WHERE { ?x <qty> ?q . OPTIONAL { ?x <bonus> ?b . BIND(?q * 2 AS ?d) } }"))
    intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?x WHERE { ?x <qty> ?q . OPTIONAL { ?x <bonus> ?b . BIND(?b * 2 AS ?q) } }"))
    intercept[IllegalArgumentException](Sparql.parse(
      """SELECT ?x WHERE { ?x <qty> ?q .
        |OPTIONAL { ?x <bonus> ?b . BIND(?b AS ?d) }
        |OPTIONAL { ?x <bonus> ?c . BIND(?c AS ?d) } }""".stripMargin))
  }

  test("sparql trailing VALUES clause: joins BEFORE the solution modifiers") {
    import spark.implicits._
    import graft.sparql.Sparql
    val triples = Seq(
      ("a", "tag", "x"), ("b", "tag", "y"), ("c", "tag", "y"),
      ("d", "tag", "z"))
      .toDF("s", "p", "o")
    // plain narrowing join on a projected var
    val basic = Sparql.run(triples,
      """SELECT ?s ?t WHERE { ?s <tag> ?t . } ORDER BY ?s
        |VALUES ?t { "y" "z" }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(basic === Seq(("b", "y"), ("c", "y"), ("d", "z")))
    // §18.2.4.3: the data joins the solution sequence BEFORE §18.2.5's
    // OrderBy/Projection/Slice — the narrowed b,c,d is ordered and cut,
    // keeping b and c (a post-LIMIT reading would return only b)
    val preModifier = Sparql.run(triples,
      """SELECT ?s ?t WHERE { ?s <tag> ?t . } ORDER BY ?s LIMIT 2
        |VALUES ?t { "y" "z" }""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(preModifier === Seq("b", "c"))
    // multi-var tuple form over an aggregated query's result vars
    val agg = Sparql.run(triples,
      """SELECT ?t (COUNT(?s) AS ?n) WHERE { ?s <tag> ?t . } GROUP BY ?t
        |VALUES (?t) { ("y") ("x") }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(agg === Seq(("x", 1L), ("y", 2L)))
    // a NON-projected clause variable narrows pre-projection (legal —
    // the wildcard column is dropped by the projection afterwards)
    val nonProj = Sparql.run(triples,
      "SELECT ?s WHERE { ?s <tag> ?t . } VALUES ?t { \"y\" }")
      .collect().map(_.getString(0)).toSeq.sorted
    assert(nonProj === Seq("b", "c"))
    // UNDEF rows are wildcards in the trailing clause too
    val undef = Sparql.run(triples,
      """SELECT ?s ?t WHERE { ?s <tag> ?t . }
        |VALUES (?s ?t) { ("a" UNDEF) (UNDEF "z") }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(undef === Seq(("a", "x"), ("d", "z")))
    // rejects: double trailing clause, non-SELECT
    intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?s WHERE { ?s <tag> ?t . } VALUES ?s { \"a\" } VALUES ?s { \"b\" }"))
    intercept[IllegalArgumentException](Sparql.parse(
      "ASK WHERE { ?s <tag> ?t . } VALUES ?t { \"y\" }"))
  }

  test("sparql GROUP BY expressions: aliased keys, bare builtin keys, rejects") {
    import spark.implicits._
    import graft.sparql.Sparql
    val triples = Seq(
      ("a", "name", "Ann"), ("b", "name", "Bo"), ("c", "name", "Amy"),
      ("a", "qty", "2"), ("b", "qty", "3"), ("c", "qty", "5"))
      .toDF("s", "p", "o")
    // aliased expression key is projectable and orderable
    val byLen = Sparql.run(triples,
      """SELECT ?len (COUNT(?n) AS ?c) WHERE { ?x <name> ?n . }
        |GROUP BY (STRLEN(?n) AS ?len) ORDER BY ?len""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(byLen === Seq((2, 1L), (3, 2L)))
    // bare builtin key: groups without projecting the key
    val sums = Sparql.run(triples,
      """SELECT (SUM(?q) AS ?s) WHERE { ?x <qty> ?q . ?x <name> ?n . }
        |GROUP BY STRLEN(?n) ORDER BY ?s""".stripMargin)
      .collect().map(_.getDouble(0)).toSeq
    assert(sums === Seq(3.0, 7.0))
    // HAVING and SELECT expressions see the aliased key
    val hv = Sparql.run(triples,
      """SELECT ?len (?len * 10 AS ?t) (COUNT(?n) AS ?c) WHERE {
        |  ?x <name> ?n . }
        |GROUP BY (STRLEN(?n) AS ?len) HAVING (?c > 1)""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(hv === Seq((3, 30.0, 2L)))
    // multiple HAVING constraints conjoin (HavingCondition+)
    val hv2 = Sparql.run(triples,
      """SELECT ?len (COUNT(?n) AS ?c) WHERE { ?x <name> ?n . }
        |GROUP BY (STRLEN(?n) AS ?len) HAVING (?c > 0) (?len = 2)""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(hv2 === Seq((2, 1L)))
    // rejects: alias rebinds a pattern var, unknown var inside the key
    // expression, and the §11.4 rule still holds for plain vars
    intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?n WHERE { ?x <name> ?n . } GROUP BY (STRLEN(?n) AS ?n)"))
    intercept[IllegalArgumentException](Sparql.parse(
      "SELECT (COUNT(?n) AS ?c) WHERE { ?x <name> ?n . } GROUP BY (STRLEN(?nope) AS ?d)"))
    intercept[IllegalArgumentException](Sparql.parse(
      """SELECT ?n (COUNT(?x) AS ?c) WHERE { ?x <name> ?n . }
        |GROUP BY (STRLEN(?n) AS ?len)""".stripMargin))
  }

  test("sparql SELECT expressions, ORDER BY expressions, rejects") {
    import spark.implicits._
    import graft.sparql.Sparql
    val triples = Seq(
      ("a", "qty", "2"), ("a", "price", "10"),
      ("b", "qty", "3"), ("b", "price", "7"),
      ("a", "name", "Ann"), ("b", "name", "Bo"))
      .toDF("s", "p", "o")
    // plain projection expression mixed with vars; left-to-right
    // chaining: ?t sees the earlier alias ?rev
    val rows = Sparql.run(triples,
      """SELECT ?x (?q * ?pr AS ?rev) (?rev + 1 AS ?t) WHERE {
        |  ?x <qty> ?q . ?x <price> ?pr . } ORDER BY ?x""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(rows === Seq(("a", 20.0, 21.0), ("b", 21.0, 22.0)))
    // string expression + builtin
    val up = Sparql.run(triples,
      "SELECT (UCASE(?n) AS ?u) WHERE { ?x <name> ?n . } ORDER BY ?u")
      .collect().map(_.getString(0)).toSeq
    assert(up === Seq("ANN", "BO"))
    // over an aggregated query the expression runs AFTER grouping — it
    // sees group keys and aggregate aliases only
    val agg = Sparql.run(triples,
      """SELECT ?x (SUM(?q) AS ?sq) (?sq * 100 AS ?pct) WHERE {
        |  ?x <qty> ?q . } GROUP BY ?x ORDER BY ?x""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(2))).toSeq
    assert(agg === Seq(("a", 200.0), ("b", 300.0)))
    // ORDER BY expressions (§15.1): DESC(expr) and a bare builtin-call
    // sort key, both over the projected frame
    val byRev = Sparql.run(triples,
      """SELECT ?x ?q ?pr WHERE { ?x <qty> ?q . ?x <price> ?pr . }
        |ORDER BY DESC(?q * ?pr)""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(byRev === Seq("b", "a"))
    val byLen = Sparql.run(triples,
      "SELECT ?n WHERE { ?x <name> ?n . } ORDER BY DESC(STRLEN(?n)) ?n")
      .collect().map(_.getString(0)).toSeq
    assert(byLen === Seq("Ann", "Bo"))
    // §18.2.5 orders BEFORE projection: a NON-projected sort variable
    // is legal on a plain SELECT (b's qty 3 sorts first under DESC)
    val nonProj = Sparql.run(triples,
      "SELECT ?x WHERE { ?x <qty> ?q . } ORDER BY DESC(?q)")
      .collect().map(_.getString(0)).toSeq
    assert(nonProj === Seq("b", "a"))
    // …but SELECT DISTINCT may only order by projected vars (§15.1)
    val eD = intercept[IllegalArgumentException](Sparql.parse(
      "SELECT DISTINCT ?x WHERE { ?x <qty> ?q . } ORDER BY DESC(?q)"))
    assert(eD.getMessage.contains("DISTINCT"))
    // rejects: rebinding an existing variable, referencing a
    // non-grouped var post-aggregation, SELECT * with an expression,
    // unknown variable
    intercept[IllegalArgumentException](Sparql.parse(
      "SELECT (?q + 1 AS ?q) WHERE { ?x <qty> ?q . }"))
    intercept[IllegalArgumentException](Sparql.parse(
      """SELECT ?x (SUM(?q) AS ?s) (?pr AS ?p) WHERE {
        |  ?x <qty> ?q . ?x <price> ?pr . } GROUP BY ?x""".stripMargin))
    intercept[IllegalArgumentException](Sparql.parse(
      "SELECT * (?q + 1 AS ?r) WHERE { ?x <qty> ?q . }"))
    intercept[IllegalArgumentException](Sparql.parse(
      "SELECT (?nope + 1 AS ?r) WHERE { ?x <qty> ?q . }"))
  }

  // ---- anchored top-k pushdown (Planner.installTopKPruning) ----------

  private def firstK(q: String, k: Int): Seq[String] =
    Cypher.run(g, q).collect().take(k).map(_.mkString("|")).toSeq

  test("top-k pushdown: pruned plan matches full-sort prefix (asc, desc, skip, null keys)") {
    // leading key = anchor property; full tiebreak → deterministic prefix
    val body = "MATCH (a)-[:NEIGHBORS]->(b) RETURN a.id AS aid, b.id AS bid ORDER BY aid, bid"
    val full = firstK(body, 7)
    val limited = Cypher.run(g, body + " LIMIT 7")
    // the rule installed: the threshold frame rides in the plan
    assert(limited.queryExecution.optimizedPlan.toString.contains("__kth"))
    assert(limited.collect().map(_.mkString("|")).toSeq === full)

    val bodyDesc = "MATCH (a)-[:NEIGHBORS]->(b) RETURN a.id AS aid, b.id AS bid ORDER BY aid DESC, bid"
    assert(Cypher.run(g, bodyDesc + " LIMIT 6").collect().map(_.mkString("|")).toSeq
      === firstK(bodyDesc, 6))

    // SKIP folds into the threshold (k = skip + limit)
    assert(Cypher.run(g, body + " SKIP 3 LIMIT 4").collect().map(_.mkString("|")).toSeq
      === firstK(body, 7).drop(3))

    // leading key with heavy ties + nulls (occupation is mostly absent):
    // nulls-last anchors survive the prune, tie rows kept via <=
    val bodyNull = "MATCH (a)-[:NEIGHBORS]->(b) " +
      "RETURN a.occupation AS occ, a.id AS aid, b.id AS bid ORDER BY occ, aid, bid"
    assert(Cypher.run(g, bodyNull + " LIMIT 5").collect().map(_.mkString("|")).toSeq
      === firstK(bodyNull, 5))
  }

  test("top-k pushdown installs only for qualifying shapes") {
    // qualifying: linear path, leading key on the anchor, LIMIT
    assert(Cypher.run(g, "MATCH (a)-[:NEIGHBORS]->(b) RETURN a.id AS x ORDER BY x LIMIT 3")
      .queryExecution.optimizedPlan.toString.contains("__kth"))
    // not: leading sort key on a MIDDLE node (no endpoint to anchor)
    assert(!Cypher.run(g,
      "MATCH (a)-[:NEIGHBORS]->(b)-[:NEIGHBORS]->(c) RETURN b.id AS x ORDER BY x LIMIT 3")
      .queryExecution.optimizedPlan.toString.contains("__kth"))
    // DISTINCT installs with the distinct-f threshold (k distinct sort
    // values guarantee ≥ k distinct rows) — and matches the full prefix
    val dBody = "MATCH (a)-[:NEIGHBORS]->(b) RETURN DISTINCT a.id AS x ORDER BY x"
    val dLim = Cypher.run(g, dBody + " LIMIT 3")
    assert(dLim.queryExecution.optimizedPlan.toString.contains("__kth"))
    assert(dLim.collect().map(_.mkString("|")).toSeq === firstK(dBody, 3))
    // aggregation sorted on a GROUPING key installs (r16): the LIMIT
    // counts groups, the k-th distinct matched key bounds them — and
    // the aggregate values must equal the unpruned plan's
    val aBody = "MATCH (a)-[:NEIGHBORS]->(b) RETURN a.id AS x, count(b) AS c ORDER BY x"
    val aLim = Cypher.run(g, aBody + " LIMIT 3")
    assert(aLim.queryExecution.optimizedPlan.toString.contains("__kth"))
    assert(aLim.collect().map(_.mkString("|")).toSeq === firstK(aBody, 3))
    // not: ORDER BY an aggregate (threshold not computable pre-agg),
    // var-length, no LIMIT
    assert(!Cypher.run(g,
      "MATCH (a)-[:NEIGHBORS]->(b) RETURN a.id AS x, count(b) AS c ORDER BY c LIMIT 3")
      .queryExecution.optimizedPlan.toString.contains("__kth"))
    assert(!Cypher.run(g, "MATCH (a)-[*1..2]->(b) RETURN a.id AS x ORDER BY x LIMIT 3")
      .queryExecution.optimizedPlan.toString.contains("__kth"))
    assert(!Cypher.run(g, "MATCH (a)-[:NEIGHBORS]->(b) RETURN a.id AS x ORDER BY x")
      .queryExecution.optimizedPlan.toString.contains("__kth"))
  }

  test("top-k pushdown: WITH-chained ORDER BY/LIMIT prunes the match it bounds") {
    // the first WITH's modifiers bound the rows every later clause sees
    val body = "MATCH (a)-[:NEIGHBORS]->(b) WITH a.id AS aid, b.id AS bid " +
      "ORDER BY aid, bid LIMIT 5 RETURN aid, bid"
    val df = Cypher.run(g, body)
    assert(df.queryExecution.optimizedPlan.toString.contains("__kth"),
      "WITH-chained pushdown did not install")
    val full = Cypher.run(g,
      "MATCH (a)-[:NEIGHBORS]->(b) RETURN a.id AS aid, b.id AS bid ORDER BY aid, bid")
      .collect().take(5).map(_.mkString("|")).toSeq
    assert(df.collect().map(_.mkString("|")).toSeq === full)
    // a WITH ... WHERE filters AFTER the limit — pushdown stays sound
    val filtered = Cypher.run(g, "MATCH (a)-[:NEIGHBORS]->(b) " +
      "WITH a.id AS aid, b.id AS bid ORDER BY aid, bid LIMIT 5 " +
      "WHERE bid > '1' RETURN aid, bid")
    assert(filtered.queryExecution.optimizedPlan.toString.contains("__kth"))
    assert(filtered.collect().map(_.mkString("|")).toSeq === full.filter(_.split("\\|")(1) > "1"))
  }

  test("top-k pushdown: a later OPTIONAL MATCH reusing the anchor NAME scans unpruned") {
    // after WITH, `a` leaves scope; the OPTIONAL MATCH binds a FRESH
    // `a` planned in an empty context — the prune keyed on the name
    // must have been consumed by the first MATCH's anchor scan, or the
    // optional side loses nodes
    val q = "MATCH (a)-[:NEIGHBORS]->(b) WITH a.id AS aid, b.id AS bid " +
      "ORDER BY aid, bid LIMIT 3 OPTIONAL MATCH (a) " +
      "RETURN aid, bid, a.id AS zid ORDER BY aid, bid, zid"
    val rows = Cypher.run(g, q).collect()
    // 3 surviving (aid, bid) pairs × all 20 nodes each
    assert(rows.length === 60, s"optional side was pruned: ${rows.length} rows")
  }

  test("top-k pushdown: sort on the LAST node reverses the path to prune") {
    val body = "MATCH (a)-[:NEIGHBORS]->(b) RETURN a.id AS aid, b.id AS bid ORDER BY bid, aid"
    val limited = Cypher.run(g, body + " LIMIT 6")
    assert(limited.queryExecution.optimizedPlan.toString.contains("__kth"),
      "reversal did not install the prune")
    assert(limited.collect().map(_.mkString("|")).toSeq === firstK(body, 6))
    // directed graph + an undirected hop: the typed-anchor orientation
    // rule makes reversal semantics-changing — rule must NOT install...
    lazy val gDir = GraphSources.readJsonEdges(spark, fixtureJson, isDirected = true).cache()
    val dirBody = "MATCH (a)-[:NEIGHBORS]-(b) RETURN a.id AS aid, b.id AS bid ORDER BY bid, aid"
    val dirLim = Cypher.run(gDir, dirBody + " LIMIT 5")
    assert(!dirLim.queryExecution.optimizedPlan.toString.contains("__kth"))
    assert(dirLim.collect().map(_.mkString("|")).toSeq ===
      Cypher.run(gDir, dirBody).collect().take(5).map(_.mkString("|")).toSeq)
    // ...while explicit arrows reverse losslessly even on directed graphs
    val dirArrow = "MATCH (a)-[:NEIGHBORS]->(b) RETURN a.id AS aid, b.id AS bid ORDER BY bid, aid"
    val dirArrowLim = Cypher.run(gDir, dirArrow + " LIMIT 5")
    assert(dirArrowLim.queryExecution.optimizedPlan.toString.contains("__kth"))
    assert(dirArrowLim.collect().map(_.mkString("|")).toSeq ===
      Cypher.run(gDir, dirArrow).collect().take(5).map(_.mkString("|")).toSeq)
    // FORWARD DirBoth on a directed graph needs no reversal and DOES
    // install — phase A must replicate the typed-anchor orientation
    // rule exactly (the anchor hop emits stored orientation only)
    val dirFwd = Cypher.run(gDir, dirBody.replace("ORDER BY bid, aid", "ORDER BY aid, bid") + " LIMIT 5")
    assert(dirFwd.queryExecution.optimizedPlan.toString.contains("__kth"))
    assert(dirFwd.collect().map(_.mkString("|")).toSeq ===
      Cypher.run(gDir, dirBody.replace("ORDER BY bid, aid", "ORDER BY aid, bid"))
        .collect().take(5).map(_.mkString("|")).toSeq)
  }

  test("property: top-k pushdown matches the unlimited sort prefix on random graphs") {
    // random directed multigraphs exercised through both path
    // orientations, WHERE folding, and DISTINCT — pruned LIMIT plans
    // must equal the full ordered result's prefix
    import org.scalacheck.Gen
    import graft.model.PropertyGraph
    val ids = (0 until 8).map(i => s"n$i")
    val genEdges: Gen[Seq[(String, String, String)]] = {
      val e = for {
        s <- Gen.oneOf(ids); d <- Gen.oneOf(ids)
        t <- Gen.oneOf("A", "B")
      } yield (s, d, t)
      Gen.chooseNum(6, 20).flatMap(n => Gen.listOfN(n, e)).map(_.distinct)
    }
    var seed = org.scalacheck.rng.Seed(99L)
    (0 until 5).foreach { _ =>
      val es = genEdges.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      import spark.implicits._
      val emptyP = map().cast(org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))
      val nodes = ids.toDF("id")
        .select(col("id"), lit("N").as("label"), emptyP.as("properties"))
      val edges = es.toDF("src", "dst", "type")
        .select(col("src"), col("dst"), col("type"), emptyP.as("properties"))
      val pg = PropertyGraph(nodes, PropertyGraph.withEid(edges), isDirected = true)
      val bodies = Seq(
        "MATCH (a)-[:A]->(b) RETURN id(a) AS x, id(b) AS y ORDER BY x, y",
        "MATCH (a)-[:A]->(b) RETURN id(a) AS x, id(b) AS y ORDER BY x DESC, y",
        "MATCH (a)-[:A]->(b)-[:B]->(c) RETURN id(a) AS x, id(c) AS y ORDER BY y, x", // reversal
        "MATCH (a)-[:A]->(b) WHERE id(b) > 'n2' RETURN id(a) AS x, id(b) AS y ORDER BY x, y",
        "MATCH (a)-[:A]->(b) RETURN DISTINCT id(a) AS x ORDER BY x",
        "MATCH (a)-[:A]->(b) RETURN id(a) AS x, count(b) AS c ORDER BY x",  // agg on group key
        "MATCH (a)-[:A]->(b)-[:B]->(c) RETURN id(c) AS y, count(a) AS n ORDER BY y DESC")  // reversal+agg
      for (body <- bodies; k <- Seq(1, 3, 6)) {
        val full = Cypher.run(pg, body).collect().map(_.mkString("|")).toSeq
        val got = Cypher.run(pg, s"$body LIMIT $k").collect().map(_.mkString("|")).toSeq
        assert(got === full.take(k), s"top-k mismatch: $body LIMIT $k over $es")
      }
    }
  }

  test("top-k pushdown: anchor-only WHERE and anchors without matches stay correct") {
    val body = "MATCH (a)-[:NEIGHBORS]->(b) WHERE a.id > '1' " +
      "RETURN a.id AS aid, b.id AS bid ORDER BY aid, bid"
    val limited = Cypher.run(g, body + " LIMIT 4")
    assert(limited.queryExecution.optimizedPlan.toString.contains("__kth"))
    assert(limited.collect().map(_.mkString("|")).toSeq === firstK(body, 4))
    // WHERE on a NON-anchor var folds into the matched-anchor walk
    // (an anchor whose only neighbors fail the filter must not occupy
    // a threshold slot)
    val cross = "MATCH (a)-[:NEIGHBORS]->(b) WHERE b.id > '1' " +
      "RETURN a.id AS aid, b.id AS bid ORDER BY aid, bid"
    val lim2 = Cypher.run(g, cross + " LIMIT 4")
    assert(lim2.queryExecution.optimizedPlan.toString.contains("__kth"))
    assert(lim2.collect().map(_.mkString("|")).toSeq === firstK(cross, 4))
    // mixed per-var conjuncts on both endpoints
    val mixed = "MATCH (a)-[:NEIGHBORS]->(b) WHERE a.id < '8' AND b.id > '1' " +
      "RETURN a.id AS aid, b.id AS bid ORDER BY aid, bid"
    val lim3 = Cypher.run(g, mixed + " LIMIT 4")
    assert(lim3.queryExecution.optimizedPlan.toString.contains("__kth"))
    assert(lim3.collect().map(_.mkString("|")).toSeq === firstK(mixed, 4))
    // a conjunct SPANNING two variables cannot anchor to one hop → bails
    val span = "MATCH (a)-[:NEIGHBORS]->(b) WHERE a.id < b.id " +
      "RETURN a.id AS aid, b.id AS bid ORDER BY aid, bid"
    val lim4 = Cypher.run(g, span + " LIMIT 4")
    assert(!lim4.queryExecution.optimizedPlan.toString.contains("__kth"))
    assert(lim4.collect().map(_.mkString("|")).toSeq === firstK(span, 4))
    // target label that matches nothing: threshold frame is a null row →
    // prune keeps everything, result is empty either way
    assert(Cypher.run(g,
      "MATCH (a)-[:NEIGHBORS]->(b:Nowhere) RETURN a.id AS aid ORDER BY aid LIMIT 3")
      .count() === 0L)
  }
}
