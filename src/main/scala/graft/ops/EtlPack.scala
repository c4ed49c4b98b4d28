package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.Etl

/** SURVEY.md §5 end-to-end domain slice — the reference's OWN data
  * contract, not the TPC-H stand-in: paginated SPARQL-result JSON
  * (`{head, results.bindings}` with `{type, value, xml:lang}` cells,
  * extractor.py:150-169 / FIXTURES.md §1.1) through the full
  * flatten → clean → dedup → edges/nodes split chain
  * (transformer.py:91-277), with the DuckDB oracle replaying the SAME
  * chain from the SAME landing files via `read_json` — an independent
  * second implementation over the reference's actual landing shape.
  *
  * The landing fixture is synthesized deterministically and carries
  * every dirty-row class FIXTURES.md §1.1 requires the cleaner to
  * handle: unresolved `^Q\d+$` labels, genid URIs that don't strip to a
  * Q-id, empty and absent person cells, exact duplicate triples,
  * reversed A→B/B→A pairs, embedded `\t`/`\n` whitespace, multi-valued
  * person attributes split across rows, unparseable birth years, and a
  * collapse-order probe (a filtered-out row whose attribute value must
  * still reach its surviving person — transformer.py runs the
  * per-person collapse before the garbage filters).
  *
  * SCALE: the landing volume is sf-parameterized (ScaleUp-style).
  * [[scaleFor]] maps the query's data dir to a replica count
  * (sf0.001→1, sf0.01→10, sf0.1→100, sf1→1000); each replica is an
  * id-shifted isomorphic copy of the 30-person motif (stride 1000, two
  * pages, all dirty-row classes), so the clean chain's work grows
  * linearly in sf while per-replica semantics — including the
  * six-degrees goldens, which live entirely in replica 0 — stay fixed.
  * Replica graphs are disjoint islands, so BFS/SSSP round counts are
  * scale-independent. The DuckDB oracle is scale-keyed: the queries
  * record the scale they ran at ([[activeScale]]) and [[oracle]] emits
  * SQL over that scale's landing dir — graft.Verify runs the queries
  * before dumping oracle_sql.json, so the two always agree within a
  * verification run.
  */
object EtlPack {
  type Q = (SparkSession, String) => DataFrame

  /** Id shift between fixture replicas: replica r holds persons
    * Q(1+1000r)..Q(30+1000r) and objects Q(101+1000r)..Q(120+1000r). */
  private val Stride = 1000L

  /** Landing dir for a given replica count — keyed by scale so
    * different-sf processes never share (or tear) a directory, under
    * the JVM tmpdir so Verify and the DuckDB oracle read the same
    * files within a round. */
  def landingDir(scale: Int): String =
    s"${sys.props("java.io.tmpdir")}/graft_sparql_v2_s$scale"

  /** sf-derived replica count: parses the `sf…` component of the data
    * dir (sf0.001→1, sf0.01→10, sf0.1→100, sf1→1000; no match → 1).
    * Capped at 1000 replicas (~66k bindings / 2000 pages). */
  def scaleFor(dir: String): Int = {
    val sf = "sf(\\d+(?:\\.\\d+)?)".r.findFirstMatchIn(dir)
      .map(_.group(1).toDouble).getOrElse(0.001)
    math.min(1000, math.max(1, math.round(sf * 1000).toInt))
  }

  /** Scale the LAST query invocation ran at — read by [[oracle]] so the
    * dumped SQL replays the same landing volume the parquet results
    * came from (Verify runs all queries, then dumps the oracle map). */
  @volatile private var activeScaleV: Int = 1
  private def use(dir: String): Int = {
    val sc = scaleFor(dir); activeScaleV = sc; sc
  }

  // ---- fixture synthesis (FIXTURES.md §1.1) -------------------------

  private val ObjTypes = Seq(
    "film", "organization", "educational_institution", "award", "music")

  /** Six-degrees source (P25 — start of the generation-gap spouse
    * chain, replica 0 only, so the signature query's golden is
    * scale-independent). */
  private val SixDegreesSource = 25L
  /** Relaxation rounds for the weighted UNDIRECTED single-source query
    * (bfs.py mode='all'): must reach a fixed point on the replica-0
    * motif (EtlEndToEndSpec pins k and k+2 rounds equal). */
  private val SixDegreesIters = 8
  /** Relaxation rounds of the pairwise experiment — must EXCEED the
    * fixture graph's undirected diameter so the distances are converged
    * experiment results, not an iteration-cap artifact (the spec pins
    * max_hops strictly below this). Replicas are disjoint islands, so
    * the diameter — and this bound — is scale-independent. */
  private val DegreesExpIters  = 12

  /** Person cap of the six-degrees experiment's deterministic sample:
    * C(142, 2) = 10 011 unordered pairs ≈ the reference's 10 000-pair
    * protocol (notebook cell 147; analysis_service.py:223-263 chunks
    * the sampled pairs into per-source batches). The gate keeps a
    * person iff `((hid·2654435761) mod 1000003) mod D = 0` with
    * D = max(1, n_persons div 142) — an integer rule both engines
    * replay, expected kept ≈ n/D ≲ 2·142, so the BSP source list is
    * bounded by construction at ANY corpus size. */
  val PairSampleCap = 142L

  private case class Cell(tpe: String, value: String, lang: Option[String] = None)
  private type Binding = Seq[(String, Cell)]

  private def uri(q: String) = Cell("uri", s"http://www.wikidata.org/entity/$q")
  private def lit2(v: String) = Cell("literal", v)
  private def lab(v: String, lang: String) = Cell("literal", v, Some(lang))

  // Label/attribute TEXT is keyed by the replica-local index (every
  // replica is isomorphic, byte-for-byte, up to its id shift); only the
  // entity URIs carry the replica offset.
  private def personLabel(i: Int): String =
    if (i == 11) "Person\t11" else if (i == 12) "Person\n12" else s"Person $i"
  private def personLang(i: Int): String = if (i % 6 == 0) "vi" else "en"
  private def personDesc(i: Int): Option[String] =
    if (i % 10 == 0) None
    else if (i == 5) Some("A person number 5 ")   // trailing space → trimmed
    else Some(s"A person number $i")
  private def birthYear(i: Int, rel: String): String =
    if (i % 9 == 0) "unknown"
    else if (i == 5 && rel == "employer") "1906"  // multi-valued → null year
    else (1900 + i).toString
  private def birthPlace(i: Int): Option[String] =
    if (i % 8 == 0) None else Some(s"City ${i % 6}")
  private def country(i: Int, rel: String): String =
    if (i % 7 == 0 && rel == "employer") "Country X" else s"Country ${i % 5}"

  private def objId(off: Long, j: Int) = s"Q${100 + j + off}"
  private def objLabel(j: Int): String =
    if (j == 13) "Q113" else s"Object $j"        // unresolved label → dropped
  private def objType(j: Int): String = ObjTypes(j % 5)

  /** One landing row: person i --rel--> object cells (ids shifted by
    * the replica offset, text local). */
  private def edgeRow(off: Long, i: Int, rel: String,
      oId: String, oLabel: String, oType: String, oDesc: String): Binding = {
    val base = Seq(
      "person" -> uri(s"Q${i + off}"),
      "personLabel" -> lab(personLabel(i), personLang(i)),
      "personType" -> lit2("human"),
      "birthYear" -> lit2(birthYear(i, rel)),
      "countryLabel" -> lit2(country(i, rel)),
      "object" -> Cell("uri", if (oId.startsWith("http")) oId
        else s"http://www.wikidata.org/entity/$oId"),
      "objectLabel" -> lab(oLabel, "en"),
      "objectDescription" -> lit2(oDesc),
      "objectType" -> lit2(oType),
      "relationshipLabel" -> lit2(rel))
    base ++
      personDesc(i).map(d => "personDescription" -> lit2(d)) ++
      birthPlace(i).map(b => "birthPlaceLabel" -> lit2(b))
  }

  private def eduRow(off: Long)(i: Int): Binding = {
    val j = 1 + (i % 20)
    edgeRow(off, i, "educated_at", objId(off, j), objLabel(j), objType(j),
      s"An object number $j")
  }
  private def empRow(off: Long)(i: Int): Binding = {
    val j = 1 + ((i * 3) % 20)
    edgeRow(off, i, "employer", objId(off, j), objLabel(j), objType(j),
      s"An object number $j")
  }
  private def awardRow(off: Long)(i: Int): Binding = {
    val j = 1 + ((i * 7) % 20)
    edgeRow(off, i, "award_received", objId(off, j), objLabel(j), objType(j),
      s"An object number $j")
  }
  private def spouseRow(off: Long)(a: Int, b: Int): Binding =
    edgeRow(off, a, "spouse", s"Q${b + off}", s"Person $b", "human",
      s"A person number $b")

  /** One replica's two landing pages, in extractor pagination order. */
  private def pagesFor(r: Int): Seq[Seq[Binding]] = {
    val off = Stride * r
    val genidUri = s"http://www.wikidata.org/.well-known/genid/b1a2c3r$r"
    val edu = eduRow(off) _; val emp = empRow(off) _
    val award = awardRow(off) _; val spouse = spouseRow(off) _
    val page0 =
      (1 to 18).map(edu) ++ Seq(
        edu(1),                                        // exact duplicate triple
        edgeRow(off, 42, "educated_at", objId(off, 1), objLabel(1), objType(1),
          "An object number 1")
          .map { case ("person", _) => "person" -> Cell("uri", genidUri)
                 case kv => kv },                      // genid person → dropped
        edgeRow(off, 200, "educated_at", objId(off, 1), objLabel(1), objType(1),
          "An object number 1")
          .map { case ("personLabel", c) => "personLabel" -> c.copy(value = s"Q${200 + off}")
                 case kv => kv })                      // unresolved person label
    val page1 =
      (19 to 30).map(edu) ++
        (1 to 15).map(emp) ++
        Seq(2, 4, 6, 8, 10).map(award) ++
        Seq(spouse(1, 2), spouse(3, 4), spouse(5, 6), spouse(7, 8)) ++
        Seq(
          emp(2),                                      // duplicate triple
          spouse(3, 4),                                // duplicate triple
          spouse(2, 1),                                // reversed pair → canonical dedup
          spouse(6, 5),                                // reversed pair → canonical dedup
          edgeRow(off, 3, "educated_at", genidUri, "Genid Object", "concept",
            "genid"),                                  // genid object → dropped
          edgeRow(off, 1, "educated_at", objId(off, 1), objLabel(1), objType(1),
            "An object number 1")
            .map { case ("person", _) => "person" -> Cell("uri", "")
                   case kv => kv },                    // empty person → dropped
          edgeRow(off, 1, "educated_at", objId(off, 2), objLabel(2), objType(2),
            "An object number 2")
            .filterNot(_._1 == "person")
            .map { case ("personLabel", c) => "personLabel" -> c.copy(value = "Ghost")
                   case kv => kv },                    // absent person → dropped
          // Collapse-order probe (transformer.py:197-213 runs the
          // per-person collapse BEFORE the garbage filters): this row is
          // dropped by the unresolved-OBJECT-label filter, but its unique
          // countryLabel must still reach P7's collapsed attribute set.
          edgeRow(off, 7, "educated_at", objId(off, 13), objLabel(13), objType(13),
            "An object number 13")
            .map { case ("countryLabel", _) => "countryLabel" -> lit2("Country Z")
                   case kv => kv },
          // Weight-model legs (bfs.py:15-90): a >15-year generation-gap
          // spouse pair (1925 vs 1903 → penalty (22−15)/5) and two
          // blacklisted influenced_by edges (cost = ∞).
          spouse(25, 3),
          edgeRow(off, 9, "influenced_by", s"Q${10 + off}", "Person 10", "human",
            "A person number 10"),
          edgeRow(off, 20, "influenced_by", s"Q${21 + off}", "Person 21", "human",
            "A person number 21"))
    Seq(page0, page1)
  }

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c => c.toString
  }

  private def cellJson(c: Cell): String = {
    val lang = c.lang.map(l => s""", "xml:lang": "${esc(l)}"""").getOrElse("")
    s"""{"type": "${c.tpe}", "value": "${esc(c.value)}"$lang}"""
  }

  private def pageJson(bs: Seq[Binding]): String = {
    val vars = Etl.Vars.map(v => s""""$v"""").mkString(", ")
    val rows = bs.map(b =>
      "  " + b.map { case (k, c) => s""""$k": ${cellJson(c)}""" }
        .mkString("{", ", ", "}")).mkString(",\n")
    s"""{"head": {"vars": [$vars]},\n "results": {"bindings": [\n$rows\n]}}\n"""
  }

  /** Write one page atomically: skip when the target already holds the
    * expected bytes; otherwise write a pid-keyed temp file and rename it
    * into place (POSIX rename — a concurrent reader sees either the old
    * complete file or the new one, never a torn page). */
  private def writePage(dir: Path, name: String, bytes: Array[Byte]): Unit = {
    val target = dir.resolve(name)
    val current =
      if (Files.exists(target)) Files.readAllBytes(target) else Array.empty[Byte]
    if (!java.util.Arrays.equals(current, bytes)) {
      val tmp = dir.resolve(s"$name.tmp.${ProcessHandle.current.pid}")
      Files.write(tmp, bytes)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Scales this process has already ensured — regenerating and
    * byte-comparing the full landing (59 MB of JSON at scale 1000) is
    * driver-side work every etl_sparql_* query would otherwise repeat;
    * after one successful ensure the directory is immutable for the
    * rest of the process (writes are atomic renames, so even a
    * concurrent first-ensurer in another process is safe). */
  private val ensuredScales =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Write the landing pages for `scale` replicas (idempotent —
    * constant bytes per scale; atomic per page; memoized per process).
    * Returns the landing dir. 2·scale pages: replica r owns pages 2r
    * and 2r+1. */
  def ensureFixture(scale: Int = 1): String = {
    if (!ensuredScales.contains(scale)) {
      val dir = Paths.get(landingDir(scale))
      Files.createDirectories(dir)
      (0 until scale).foreach { r =>
        pagesFor(r).zipWithIndex.foreach { case (bs, side) =>
          writePage(dir, s"page_${2 * r + side}.json",
            pageJson(bs).getBytes(StandardCharsets.UTF_8))
        }
      }
      ensuredScales.add(scale)
    }
    landingDir(scale)
  }

  /** Occupation side table (transformer.py:141 `_get_person_occupation`
    * twin): deterministic rule on the replica-local person index so the
    * oracle can regenerate it with `range()` at any scale. */
  def occupations(s: SparkSession, scale: Int = 1): DataFrame = {
    import s.implicits._
    (0 until scale).flatMap { r =>
      (1 to 30).map { i =>
        val occ = (i % 3) match {
          case 1 => "writer"; case 2 => "engineer"; case _ => null
        }
        (s"Q${i + Stride * r}", occ)
      }
    }.toDF("id", "occupation")
  }

  /** Landing chain stages, session-cached per scale (same discipline as
    * GraphPack's shared frames): seven etl_sparql_* queries re-derive
    * the identical flatten → clean → edges/nodes stages from the JSON
    * landing, and the six-degrees experiment alone replays the chain
    * three times inside one query (persons count, sample collect, edge
    * build). The frames are a few MB at any fixture scale (the landing
    * is sf-replicated motifs); caching trades that for one JSON parse
    * per stage per session. Charged to Bench's shared-warmup stage via
    * Warm entries, like every cross-query cache. */
  private[ops] def flat(s: SparkSession, scale: Int): DataFrame =
    DFCache.cached(s, s"etl.flat:$scale") {
      Etl.flattenSparql(s, ensureFixture(scale))
    }

  private[ops] def cleaned(s: SparkSession, scale: Int): DataFrame =
    DFCache.cached(s, s"etl.cleaned:$scale") {
      Etl.cleanSparql(flat(s, scale))
    }

  private[ops] def cachedEdges(s: SparkSession, scale: Int): DataFrame =
    DFCache.cached(s, s"etl.edges:$scale") {
      Etl.edges(cleaned(s, scale))
    }

  private[ops] def cachedNodes(s: SparkSession, scale: Int): DataFrame =
    DFCache.cached(s, s"etl.nodes:$scale") {
      Etl.nodes(cleaned(s, scale), occupations(s, scale))
    }

  /** Warm hooks for Bench (see [[Warm]]): the edge frame's accessor
    * materializes flat + cleaned + edges; the node frame rides the then-
    * cached cleaned stage. */
  private[ops] def warmEdges(s: SparkSession, dir: String): DataFrame =
    cachedEdges(s, scaleFor(dir))
  private[ops] def warmNodes(s: SparkSession, dir: String): DataFrame =
    cachedNodes(s, scaleFor(dir))

  /** Sample divisor of the six-degrees experiment's person gate —
    * see [[PairSampleCap]]. */
  def sampleDivisor(n: Long): Long = math.max(1L, n / PairSampleCap)

  /** The congruential person gate of the six-degrees experiment over a
    * (hid: BIGINT) frame — see [[PairSampleCap]]. pmod twice: operands
    * are positive here, but the pmod form keeps the rule total if ids
    * ever go negative (InvariantSpec pins the kept count ≈ 142 across
    * corpus sizes). */
  def samplePersons(persons: DataFrame, d: Long): DataFrame =
    persons.filter(
      pmod(pmod(pmod(col("hid"), lit(1000003L)) * 427799L, lit(1000003L)),
        lit(d)) === 0)

  val queries: Map[String, Q] = Map(
    // S7 on the real landing shape: whole-document pages → one row per
    // binding with `.value` leaves + the xml:lang metadata leaf.
    "etl_sparql_flatten" -> ((s, dir) => flat(s, use(dir))),

    // The full clean chain → the 7-column snake_case edges table
    // (transformer.py:251-269; FIXTURES.md §1.2).
    "etl_sparql_edges" -> ((s, dir) => cachedEdges(s, use(dir))),

    // Person∪object node split with keep-first dedup, occupation merge,
    // birth-year coercion, per-type dense pyg_id (transformer.py:139-173;
    // FIXTURES.md §1.3).
    "etl_sparql_nodes" -> ((s, dir) => cachedNodes(s, use(dir))),

    // The reference's edge-cost model over the §5 slice's own outputs
    // (bfs.py:15-90): blacklist → ∞, ln(in_degree+1) hub avoidance,
    // (|Δyear|−15)/5 generation-gap penalty on human-human edges.
    "etl_sparql_weights" -> ((s, dir) => {
      val sc = use(dir)
      Etl.edgeWeights(cachedEdges(s, sc), cachedNodes(s, sc))
    }),

    // The reference's SIGNATURE query (§3.2 find_connection,
    // bfs.py:95-117) closing the §5 loop: weighted single-source
    // shortest paths over the graph the ETL chain itself produced —
    // SPARQL JSON → edges/nodes → bfs.py costs → Dijkstra-equivalent
    // BSP — with Q-ids mapped to numeric vertex ids by their own digits
    // (replayable in SQL). igraph traverses with mode='all'
    // (bfs.py:108): an edge is passable in BOTH directions at the same
    // cost, so the weighted edge list is symmetrized before the BSP —
    // in the oracle's Bellman-Ford twin too. The source sits on the
    // generation-gap spouse chain, so path costs exercise the age
    // penalty; ∞ (blacklisted) edges propagate ∞ exactly as igraph
    // treats them; unreached nodes (the other replicas' islands) drop
    // out, making the golden scale-independent.
    "etl_sparql_six_degrees" -> ((s, dir) => {
      val sc = use(dir)
      val w = Etl.edgeWeights(cachedEdges(s, sc), cachedNodes(s, sc))
      val e = w.select(
        expr("CAST(substr(person, 2) AS BIGINT)").as("src"),
        expr("CAST(substr(object, 2) AS BIGINT)").as("dst"),
        col("weight").as("w"))
      val sym = e.unionAll(
        e.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      graft.graph.DFGraphAlgs.shortestPaths(sym, SixDegreesSource, SixDegreesIters)
        .filter(col("dist").isNotNull)
        .select(concat(lit("Q"), col("id")).as("id"),
          round(col("dist"), 6).as("dist"))
    }),

    // The six-degrees EXPERIMENT (notebook cells 143-153;
    // analysis_service.py:223-263): pairwise hop distances over the
    // UNDIRECTED graph (mode='all', bfs.py:62) between a SAMPLED person
    // set — the reference samples 10 000 pairs from 2.87 M persons; here
    // the deterministic congruential gate ([[PairSampleCap]]) keeps
    // ~142 persons ⇒ ~10k unordered pairs, the same protocol with a
    // replayable rule. All sampled sources advance in ONE multi-source
    // BSP run instead of the reference's ProcessPool batches; the
    // driver-side source list is bounded by construction (≲ 2·142 ids
    // at any corpus size — the gate, not the corpus, sets its size).
    // One summary row: connected sampled person pairs, mean hops, max
    // hops, and the count within six degrees — the published claim.
    "etl_sparql_degrees_exp" -> ((s, dir) => {
      val sc = use(dir)
      val ed = cachedEdges(s, sc)
      val persons = cachedNodes(s, sc)
        .filter(col("type") === "human")
        .select(expr("CAST(substr(id, 2) AS BIGINT)").as("hid"))
      // Self-sizing gate: one scalar count (driver metadata, never row
      // data), then the integer rule both engines replay.
      val n = persons.count()
      val sampled = samplePersons(persons, sampleDivisor(n))
        .collect().map(_.getLong(0)).sorted.toSeq
      import s.implicits._
      val sampDf = sampled.toDF("hid")
      val dir0 = ed.select(
        expr("CAST(substr(person, 2) AS BIGINT)").as("src"),
        expr("CAST(substr(object, 2) AS BIGINT)").as("dst"))
      val und = dir0.unionAll(dir0.select(col("dst").as("src"), col("src").as("dst")))
        .withColumn("w", lit(1.0))
      val dists = graft.graph.DFGraphAlgs
        .multiSourceShortestPaths(und, sampled, DegreesExpIters)
      dists.join(sampDf, dists("id") === sampDf("hid"))
        .filter(col("dist").isNotNull && col("s0") < col("id"))
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(col("dist").cast("long")).cast("double") / count(lit(1)), 6)
            .as("mean_hops"),
          max(col("dist").cast("long")).as("max_hops"),
          sum((col("dist") <= 6).cast("long")).as("n_within_six"))
    }),

    // The reference's reconciliation counters in one row: stage counts
    // (transformer.py:216-246 print(len(df)) chain), duplicate audits
    // (notebook cells 71-72), and the vcount/ecount checks (cells
    // 122-123): node count == distinct edge endpoints, pyg_id dense.
    // ONE lazy job, and — Spark has no common-subplan reuse across
    // union branches, so every counter branch would re-run the whole
    // landing read + clean chain — exactly ONE scan per distinct stage
    // frame: the three edge-side counters (count, full-row distinct,
    // distinct endpoints) fold into a single aggregate over an exploded
    // endpoint frame, and the node-side pair into one two-level
    // aggregate (measured at the scale-1000 fixture: the difference
    // between 3 and 6 replays of the chain). Stage frames come from the
    // session caches above, like every other etl_sparql_* query.
    "etl_sparql_reconcile" -> ((s, dir) => {
      val sc = use(dir)
      val fl = flat(s, sc)
      val ed = cachedEdges(s, sc)
      val no = cachedNodes(s, sc)
      val fc = fl.agg(count(lit(1)).as("n_bindings"))
      // to_json(struct(*)) as the full-row distinct key: countDistinct
      // over the COLUMNS would drop rows carrying any null label
      // (SQL's multi-arg DISTINCT semantics), which is not what
      // ed.distinct().count() counts.
      val ec = ed
        .select(to_json(struct(ed.columns.map(col): _*)).as("e"),
          explode(array(col("person"), col("object"))).as("id"))
        .agg((count(lit(1)) / 2).cast("long").as("n_edges"),
          countDistinct(col("e")).as("n_edge_distinct"),
          countDistinct(col("id")).as("n_endpoint_ids"))
      val nc = no.groupBy(col("type"))
        .agg(count(lit(1)).as("cnt"), (max(col("pyg_id")) + 1).as("mx"))
        .agg(sum(col("cnt")).as("n_nodes"), sum(col("mx")).as("n_pyg_dense"))
      fc.crossJoin(broadcast(ec)).crossJoin(broadcast(nc))
        .select(col("n_bindings"), col("n_edges"), col("n_edge_distinct"),
          col("n_nodes"), col("n_endpoint_ids"), col("n_pyg_dense"))
    })
  )

  // ---- DuckDB oracle: the SAME chain replayed from the SAME landing
  // files via read_json (an independent second implementation). -------

  /** read_json → flatten CTEs (shared by the flatten oracle and the
    * full chain). */
  private def flattenSql(scale: Int): String = {
    val flatCols = Etl.Vars.map(v => s"""b."$v"."value" AS "$v"""").mkString(",\n    ")
    s"""WITH raw AS (
       |  SELECT CAST(regexp_extract(filename, 'page_(\\d+)', 1) AS INT) AS page,
       |         generate_subscripts(results.bindings, 1) AS pos,
       |         unnest(results.bindings) AS b
       |  FROM read_json('${landingDir(scale)}/page_*.json', filename=true)
       |), flat AS MATERIALIZED (
       |  SELECT CAST(page AS BIGINT) * 100000 + pos AS ord,
       |    b.personLabel."xml:lang" AS personLang,
       |    $flatCols
       |  FROM raw
       |)""".stripMargin
  }

  /** Shared CTE prefix: read_json → flatten → multi-value collapse
    * (FIRST, on the raw frame — transformer.py:197-213) → scrub → id
    * strip → garbage filters → triple dedup → canonical back-edge
    * dedup → node build. */
  private def chainSql(scale: Int): String = {
    val scrubCols = Etl.Vars.map(v =>
      s"""trim(regexp_replace("$v", '[\\r\\n\\t]+', ' ', 'g')) AS "$v"""")
      .mkString(",\n    ")
    s"""${flattenSql(scale)}, coll AS (
       |  SELECT person AS p,
       |    string_agg(DISTINCT countryLabel, ', ' ORDER BY countryLabel) AS countryLabel,
       |    string_agg(DISTINCT birthPlaceLabel, ', ' ORDER BY birthPlaceLabel) AS birthPlaceLabel,
       |    string_agg(DISTINCT birthYear, ', ' ORDER BY birthYear) AS birthYear
       |  FROM flat GROUP BY person
       |), mrg AS (
       |  SELECT f.*, c.countryLabel, c.birthPlaceLabel, c.birthYear
       |  FROM (SELECT * EXCLUDE (countryLabel, birthPlaceLabel, birthYear) FROM flat) f
       |  LEFT JOIN coll c ON f.person = c.p
       |), scrub AS (
       |  SELECT ord,
       |    $scrubCols
       |  FROM mrg
       |), ids AS (
       |  SELECT * REPLACE (string_split(person, '/')[-1] AS person,
       |                    string_split("object", '/')[-1] AS "object")
       |  FROM scrub
       |), filt AS (
       |  SELECT * FROM ids
       |  WHERE COALESCE(regexp_matches(person, '^Q\\d+$$'), FALSE)
       |    AND COALESCE(regexp_matches("object", '^Q\\d+$$'), FALSE)
       |    AND NOT (COALESCE(regexp_matches(personLabel, '^Q\\d+$$'), FALSE)
       |          OR COALESCE(regexp_matches(objectLabel, '^Q\\d+$$'), FALSE))
       |    AND person IS NOT NULL AND person <> ''
       |), dd AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY person, relationshipLabel, "object" ORDER BY ord) AS rn
       |    FROM filt) WHERE rn = 1
       |), canon AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY least(person, "object"), greatest(person, "object"),
       |                   relationshipLabel ORDER BY ord) AS cn
       |    FROM dd) WHERE cn = 1
       |), sides AS (
       |  SELECT person AS id, personLabel AS name, personDescription AS description,
       |         birthYear AS birth_year_raw, countryLabel AS country,
       |         birthPlaceLabel AS birth_place, personType AS type,
       |         0 AS side, ord AS node_ord
       |  FROM canon
       |  UNION ALL
       |  SELECT "object", objectLabel, objectDescription, NULL, NULL, NULL,
       |         objectType, 1, ord
       |  FROM canon
       |), firsts AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY side, node_ord) AS fn
       |    FROM sides) WHERE fn = 1
       |), occ AS (
       |  SELECT 'Q' || (i + $Stride * r) AS id,
       |         CASE i % 3 WHEN 1 THEN 'writer' WHEN 2 THEN 'engineer' END AS occupation
       |  FROM range(0, $scale) s(r), range(1, 31) t(i)
       |), nod AS MATERIALIZED (
       |  SELECT f.id, f.name, f.description,
       |         TRY_CAST(f.birth_year_raw AS INTEGER) AS birth_year,
       |         f.country, f.birth_place, f.type, o.occupation,
       |         CAST(row_number() OVER (PARTITION BY f.type
       |              ORDER BY f.side, f.node_ord) - 1 AS BIGINT) AS pyg_id
       |  FROM firsts f LEFT JOIN occ o ON f.id = o.id
       |)""".stripMargin
  }

  /** chainSql extended with the bfs.py edge-cost CTEs: `wts` carries
    * (person, object, relationship_label, in_deg, weight). */
  private def weightsChainSql(scale: Int): String =
    s"""${chainSql(scale)},
       |edg AS (SELECT person, relationshipLabel AS relationship_label,
       |    "object" FROM canon),
       |ind AS (SELECT "object" AS d, COUNT(*) AS in_deg
       |  FROM edg GROUP BY "object"),
       |wts AS MATERIALIZED (SELECT e.person, e."object", e.relationship_label, i.in_deg,
       |  CASE WHEN e.relationship_label = 'influenced_by'
       |       THEN CAST('infinity' AS DOUBLE)
       |       ELSE round(ln(i.in_deg + 1) +
       |         CASE WHEN sn.type = 'human' AND dn.type = 'human'
       |              AND sn.birth_year IS NOT NULL
       |              AND dn.birth_year IS NOT NULL
       |              AND sn.birth_year > 1000 AND dn.birth_year > 1000
       |              AND abs(sn.birth_year - dn.birth_year) > 15
       |           THEN (abs(sn.birth_year - dn.birth_year) - 15) / 5.0
       |           ELSE 0.0 END, 6)
       |  END AS weight
       |  FROM edg e
       |  JOIN ind i ON i.d = e."object"
       |  JOIN nod sn ON sn.id = e.person
       |  JOIN nod dn ON dn.id = e."object")""".stripMargin

  /** Scale-keyed oracle map — see [[activeScaleV]]: emitted for the
    * scale the queries last ran at, so the dumped SQL and the parquet
    * results always describe the same landing volume. */
  def oracle: Map[String, String] = oracleFor(activeScaleV)

  def oracleFor(scale: Int): Map[String, String] = Map(
    "etl_sparql_flatten" -> {
      val cols = Etl.Vars.map(v => s""""$v"""").mkString(", ")
      s"""${flattenSql(scale)}
         |SELECT ord, personLang, $cols FROM flat""".stripMargin
    },

    "etl_sparql_edges" ->
      s"""${chainSql(scale)}
         |SELECT person, personLabel AS person_label, personType AS person_type,
         |       relationshipLabel AS relationship_label,
         |       "object", objectLabel AS object_label, objectType AS object_type
         |FROM canon""".stripMargin,

    "etl_sparql_nodes" ->
      s"""${chainSql(scale)}
         |SELECT id, name, description, birth_year, country, birth_place,
         |       type, occupation, pyg_id
         |FROM nod""".stripMargin,

    "etl_sparql_weights" ->
      s"""${weightsChainSql(scale)}
         |SELECT person, "object", relationship_label, in_deg, weight
         |FROM wts""".stripMargin,

    // Bellman-Ford over the SYMMETRIZED weighted ETL graph (mode='all'),
    // unrolled to SixDegreesIters relaxation rounds — the same
    // recurrence the Spark BSP runs, double arithmetic and all (each
    // path sums left to right in both engines; ∞ edges propagate ∞).
    "etl_sparql_six_degrees" -> {
      val iters = (1 to SixDegreesIters).map { k =>
        s"""p$k AS MATERIALIZED (SELECT d.id, least(d.dist, r.reach) AS dist
           |  FROM p${k - 1} d LEFT JOIN (
           |    SELECT e.dst AS id, MIN(p.dist + e.w) AS reach
           |    FROM wedges e JOIN p${k - 1} p ON p.id = e.src AND p.dist IS NOT NULL
           |    GROUP BY e.dst) r ON r.id = d.id)""".stripMargin
      }.mkString(",\n")
      s"""${weightsChainSql(scale)},
         |dirw AS (SELECT CAST(substr(person, 2) AS BIGINT) AS src,
         |    CAST(substr("object", 2) AS BIGINT) AS dst, weight AS w FROM wts),
         |wedges AS MATERIALIZED (SELECT src, dst, w FROM dirw
         |  UNION ALL SELECT dst, src, w FROM dirw),
         |vx AS (SELECT DISTINCT id FROM (
         |  SELECT src AS id FROM wedges UNION ALL SELECT dst FROM wedges)),
         |p0 AS (SELECT id,
         |  CAST(CASE WHEN id = $SixDegreesSource THEN 0.0 END AS DOUBLE) AS dist
         |  FROM vx),
         |$iters
         |SELECT 'Q' || id AS id, round(dist, 6) AS dist
         |FROM p$SixDegreesIters WHERE dist IS NOT NULL""".stripMargin
    },

    // Multi-source Bellman-Ford over the symmetrized (mode='all') hop
    // graph between the GATE-SAMPLED persons (same congruential rule as
    // the Spark side — see PairSampleCap), unrolled — identical
    // recurrence to the Spark BSP, state keyed by (source, vertex).
    "etl_sparql_degrees_exp" -> {
      val iters = (1 to DegreesExpIters).map { k =>
        s"""m$k AS MATERIALIZED (SELECT d.s0, d.id, least(d.dist, r.reach) AS dist
           |  FROM m${k - 1} d LEFT JOIN (
           |    SELECT p.s0, e.dst AS id, MIN(p.dist + 1.0) AS reach
           |    FROM und e JOIN m${k - 1} p ON p.id = e.src AND p.dist IS NOT NULL
           |    GROUP BY p.s0, e.dst) r ON r.s0 = d.s0 AND r.id = d.id)""".stripMargin
      }.mkString(",\n")
      s"""${chainSql(scale)},
         |und AS MATERIALIZED (SELECT CAST(substr(person, 2) AS BIGINT) AS src,
         |    CAST(substr("object", 2) AS BIGINT) AS dst FROM canon
         |  UNION ALL SELECT CAST(substr("object", 2) AS BIGINT),
         |    CAST(substr(person, 2) AS BIGINT) FROM canon),
         |hum AS (SELECT CAST(substr(id, 2) AS BIGINT) AS hid
         |  FROM nod WHERE type = 'human'),
         |samp AS MATERIALIZED (SELECT hid FROM hum
         |  WHERE (((hid % 1000003) * 427799) % 1000003)
         |        % GREATEST(1, (SELECT COUNT(*) FROM hum) // $PairSampleCap) = 0),
         |vx2 AS (SELECT DISTINCT src AS id FROM und),
         |m0 AS (SELECT h.hid AS s0, v.id,
         |  CAST(CASE WHEN v.id = h.hid THEN 0.0 END AS DOUBLE) AS dist
         |  FROM samp h CROSS JOIN vx2 v),
         |$iters
         |SELECT COUNT(*) AS n_pairs,
         |  round(CAST(SUM(CAST(dist AS BIGINT)) AS DOUBLE) / COUNT(*), 6)
         |    AS mean_hops,
         |  MAX(CAST(dist AS BIGINT)) AS max_hops,
         |  CAST(SUM(CASE WHEN dist <= 6 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_within_six
         |FROM m$DegreesExpIters m JOIN samp t ON t.hid = m.id
         |WHERE dist IS NOT NULL AND s0 < id""".stripMargin
    },

    "etl_sparql_reconcile" ->
      s"""${chainSql(scale)}
         |SELECT (SELECT COUNT(*) FROM flat) AS n_bindings,
         |       (SELECT COUNT(*) FROM canon) AS n_edges,
         |       (SELECT COUNT(*) FROM (
         |          SELECT DISTINCT person, personLabel, personType,
         |                 relationshipLabel, "object", objectLabel, objectType
         |          FROM canon)) AS n_edge_distinct,
         |       (SELECT COUNT(*) FROM firsts) AS n_nodes,
         |       (SELECT COUNT(DISTINCT id) FROM (
         |          SELECT person AS id FROM canon
         |          UNION ALL SELECT "object" FROM canon)) AS n_endpoint_ids,
         |       (SELECT CAST(SUM(mx + 1) AS BIGINT) FROM (
         |          SELECT type, MAX(pyg_id) AS mx FROM nod GROUP BY type))
         |         AS n_pyg_dense""".stripMargin
  )
}
