package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  GenericInternalRow, Literal, Round}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType}
import graft.functions.CosineSim
import graft.ops.OpsUtil.{inMemory, oneTask, onePartition, rsum}
import graft.ops.TextHash.h28

/** Generic similarity-search operators over ANY embedding frame —
  * the user-facing surface behind `graft.ops.SimilarityPack`'s driver
  * queries. Conventions: `id` a unique vector key, `vec` an
  * `array<float|double>` column.
  *
  * Two numeric paths, by design:
  *  - `cosine_sim(va, vb)` — the native codegen'd expression
  *    (graft.functions.CosineSim): one tight loop per pair, the FAST
  *    path for scans and prefilters.
  *  - exploded components + exact decimal accumulation — the
  *    ORDER-INDEPENDENT path whose results are bit-stable across
  *    partitionings (what oracle-checked reports use).
  */
object Similarity {

  /** Exact decimal dot product of two numeric ARRAY columns as a
    * MAP-SIDE fold: each product term is computed in double
    * (bit-identical to the exploded form's x.v·y.v over double
    * components), cast to DECIMAL(28,15), and summed with an exact
    * decimal fold — decimal addition commutes exactly, so the value
    * equals [[cosineOf]]'s posexplode + decimal-SUM form (and the
    * DuckDB twins' SUM(CAST(.. AS DECIMAL))) in any order, WITHOUT
    * materializing pairs×dim rows or shuffling a component frame.
    *
    * The accumulator is DECIMAL(37,15), not 38: Spark types
    * Add(decimal(p1,15), decimal(28,15)) at precision
    * max(p1−15, 13)+15+1, so a 38-digit accumulator needs 39 and gets
    * HALF_UP-rounded to decimal(38,14) — 1e-14 error per partial sum
    * (the r12 advice finding). At 37 the Add lands exactly on
    * decimal(38,15) and the re-cast to (37,15) is lossless for any
    * |sum| < 10²² (dim ≤ thousands of |term| ≤ 10¹³ is < 10¹⁷).
    * DecimalFoldSpec pins the fold == the exploded decimal SUM on
    * adversarial sub-1e-14 values. */
  def decimalDotArr(a: Column, b: Column): Column =
    aggregate(
      zip_with(a.cast("array<double>"), b.cast("array<double>"),
        (x, y) => (x * y).cast("decimal(28,15)")),
      lit(java.math.BigDecimal.ZERO).cast("decimal(37,15)"),
      (acc, t) => (acc + t).cast("decimal(37,15)"))
      .cast("double")

  /** Exact decimal L2 norm of an array column — the map-side twin of
    * [[norms]] (same term arithmetic, same exact decimal sum). */
  def normArr(a: Column): Column = sqrt(decimalDotArr(a, a))

  /** (vec_id, pos, v) exploded components as double. */
  def components(emb: DataFrame, id: String, vec: String): DataFrame =
    emb.select(col(id).as("vec_id"), posexplode(col(vec)).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos"), col("v").cast("double").as("v"))

  /** Per-vector L2 norms (exact decimal sum of squares). */
  def norms(components: DataFrame): DataFrame =
    components.groupBy(col("vec_id")).agg(sqrt(rsum(col("v") * col("v"))).as("nrm"))

  /** Brute-force cosine top-k against one query vector, via the native
    * expression — the exact baseline every ANN variant is measured
    * against. Returns (vec_id, cosine) ordered desc, id tie-break; every
    * row under the query id is a query vector, an absent id gives no
    * rows. A serving-sized input with an integral id and a vector type
    * `cosine_sim` accepts runs as ONE Spark task ([[topKTask]]): it reads
    * the (id, vector) rows once, scores them with the plan's own
    * `cosine_sim` and `round` expressions, interpreted — the query id is
    * no literal of generated code, so a new id compiles nothing — and
    * keeps the top k; no DataFrame plan of the lookup is built.
    * Otherwise, with `spark.sql.autoBroadcastJoinThreshold=-1` and for a
    * negative `k` (whose `limit` raises at analysis), the query vector is
    * broadcast into one scan + TakeOrdered. Both give the same rows and
    * schema. */
  def bruteForceTopK(emb: DataFrame, id: String, vec: String,
      queryId: Long, k: Int): DataFrame = {
    val in = emb.select(col(id), col(vec))
    val Array(idField, vecField) = in.schema.fields
    val vt = vecField.dataType
    val cosine = CosineSim(BoundReference(0, vt, true), BoundReference(1, vt, true))
    if (k >= 0 && cosine.checkInputDataTypes().isSuccess &&
        oneTask(in, Seq(idField.dataType))(1)) {
      val schema = StructType(Seq(idField.copy(name = "vec_id"), StructField("cosine", DoubleType)))
      onePartition(in, inMemory(in), schema)(
        topKTask(_, queryId, k, idField.dataType, Round(cosine, Literal(6))))
    } else {
      val q = in.filter(col(id) === queryId).select(col(vec).as("qv"))
      in.filter(col(id) =!= queryId)
        .crossJoin(broadcast(q))
        .select(col(id).as("vec_id"),
          round(call_function("cosine_sim", col(vec), col("qv")), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(k)
    }
  }

  /** [[bruteForceTopK]]'s kernel over the (id, vector) rows: the query
    * vectors are the rows under `queryId`, the candidates every other
    * non-null id (a null id is on neither side), and each candidate is
    * scored against each query vector by `score` — the plan's
    * round(cosine_sim(candidate, query), 6), bound to a (candidate,
    * query) pair of Spark's own array values. The top k are kept in a
    * bounded heap under the plan's order — cosine descending in Spark's
    * double order (NaN greatest, nulls last), then id ascending — and
    * emitted in that order. */
  private def topKTask(rows: Iterator[InternalRow], queryId: Long, k: Int, idType: DataType,
      score: Expression): Iterator[Row] = {
    final case class Hit(id: Any, key: Long, cosine: Any)
    val order: Ordering[Hit] = { (a, b) =>
      val c = (a.cosine, b.cosine) match {
        case (null, null) => 0
        case (null, _) => 1
        case (_, null) => -1
        case (x: Double, y: Double) => SQLOrderingUtil.compareDoubles(y, x)
      }
      if (c != 0) c else java.lang.Long.compare(a.key, b.key)
    }
    val (queries, candidates) = rows.filter(!_.isNullAt(0)).map(_.copy()).toArray
      .partition(_.get(0, idType).asInstanceOf[Number].longValue == queryId)
    val qv = queries.map(_.getArray(1))
    val pair = new GenericInternalRow(2)
    val kept = new java.util.PriorityQueue[Hit](order.reverse)
    candidates.foreach { r =>
      val id = r.get(0, idType)
      pair.update(0, r.getArray(1))
      qv.foreach { q =>
        pair.update(1, q)
        kept.add(Hit(id, id.asInstanceOf[Number].longValue, score.eval(pair)))
        if (kept.size > k) kept.poll()
      }
    }
    kept.toArray(Array.empty[Hit]).sorted(order).iterator.map(h => Row(h.id, h.cosine))
  }

  /** ±1 random-hyperplane components (deterministic from the md5 hash):
    * (j, pos, r) for numPlanes × dim. */
  def hyperplanes(s: org.apache.spark.sql.SparkSession,
      numPlanes: Int, dim: Int): DataFrame = {
    import s.implicits._
    (for (j <- 0 until numPlanes; p <- 0 until dim) yield (j, p))
      .toDF("j", "pos")
      .withColumn("r",
        when(h28(concat(lit("hp"), col("j"), lit("_"), col("pos"))) % 2 === 1, lit(1.0))
          .otherwise(lit(-1.0)))
  }

  /** LSH bucket id per vector: bit j = sign of dot(v, plane_j). One
    * bucket join replaces the all-pairs product at scale. */
  def lshBuckets(components: DataFrame, planes: DataFrame): DataFrame =
    components.join(broadcast(planes), "pos")
      .groupBy(col("vec_id"), col("j"))
      .agg(rsum(col("v") * col("r")).as("dot"))
      .groupBy(col("vec_id"))
      .agg(sum(when(col("dot") > 0, pow(lit(2), col("j")).cast("long")).otherwise(0L))
        .as("bucket"))

  /** IVF coarse assignment: nearest pivot per vector by native cosine
    * (pivot set from a k-means fit at scale; any seed frame works).
    * Returns (vec_id, cid) — the column name [[semanticDropList]]'s
    * `cells` parameter joins on, so the output feeds it directly. */
  def ivfAssign(emb: DataFrame, id: String, vec: String, pivots: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    emb.crossJoin(broadcast(pivots.select(col("pivot_id"), col("pivot_vec"))))
      .select(col(id).as("vec_id"), col("pivot_id"),
        call_function("cosine_sim", col(vec), col("pivot_vec")).as("sim"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(col("sim").desc, col("pivot_id").asc)))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("pivot_id").as("cid"))
  }

  /** Exact decimal pairwise cosine for given candidate pairs (i, j). */
  def cosineOf(components: DataFrame, pairs: DataFrame): DataFrame = {
    val n = norms(components)
    pairs
      .join(components.as("x"), col("i") === col("x.vec_id"))
      .join(components.as("y"), col("j") === col("y.vec_id") && col("x.pos") === col("y.pos"))
      .groupBy(col("i"), col("j"))
      .agg(rsum(col("x.v") * col("y.v")).as("dot"))
      .join(n.select(col("vec_id").as("i"), col("nrm").as("ni")), "i")
      .join(n.select(col("vec_id").as("j"), col("nrm").as("nj")), "j")
      .select(col("i"), col("j"),
        (col("dot") / (col("ni") * col("nj"))).as("cosine"))
  }

  /** SemDeDup drop list (Abbas et al. 2023): semantic duplicates over a
    * cell partition — `cells` is (id-named-vec_id, cid), typically a
    * fitted coarse quantizer's assignment ([[ivfAssign]]). Pairwise work
    * happens ONLY within a cell (Σcell² pairs — size cells so they stay
    * ~constant: k ∝ corpus), via the native packed-array cosine
    * prefilter with a small margin and the exact decimal cosine deciding
    * the threshold on survivors. A vector is dropped when a SMALLER-id
    * cell-mate sits at ≥ `threshold` cosine (keep-the-min-id rule);
    * returns (vec_id, n_better_dups, max_cosine). */
  def semanticDropList(emb: DataFrame, id: String, vec: String,
      cells: DataFrame, threshold: Double, pairParts: Int = 256): DataFrame = {
    // Arrays ride THROUGH the cell self-join (two n-row shuffles on
    // cid), the Σcell² pair stream exists only inside the join's
    // codegen pipeline (the native cosine prefilter cuts it inline),
    // and the exact decimal cosine is a map-side array fold on the few
    // survivors. The r12 shape replaces the r11 one — pair stream
    // repartitioned then joined against the exploded component frame —
    // which shuffled pairs×1 + pairs×2 rows (3×51M at sf10, the
    // measured bulk of the sweep); values are identical (same terms,
    // same exact decimal sums, same rounding).
    val withVec = cells.join(
      emb.select(col(id).as("vec_id"), col(vec).as("__v")), "vec_id")
    val a = withVec.select(col("cid"), col("vec_id").as("i"), col("__v").as("va"))
    val b = withVec.select(col("cid"), col("vec_id").as("j"), col("__v").as("vb"))
    val surv = a.join(b.repartition(pairParts, col("cid")), "cid")
      .filter(col("i") < col("j"))
      .filter(call_function("cosine_sim", col("va"), col("vb")) >= threshold - 1e-4)
      .select(col("i"), col("j"),
        // coalesce shields the fold from isnotnull constraint inference
        // (which would push the interpreted decimal fold into the cid
        // join condition and price it per candidate pair — see the
        // sim_dedup_sweep note); −2 < every threshold, so the
        // impossible-null case still drops.
        coalesce(round(decimalDotArr(col("va"), col("vb"))
          / (normArr(col("va")) * normArr(col("vb"))), 6), lit(-2.0)).as("cosine"))
    surv.filter(col("cosine") >= threshold)
      .groupBy(col("j").as("vec_id"))
      .agg(count(lit(1)).as("n_better_dups"),
        max(col("cosine")).as("max_cosine"))
  }

  /** Coarse quantizer sized for SemDeDup's k ∝ n contract (Abbas et al.
    * 2023 fit 50k-110k clusters for exactly this reason): the cell count
    * is DERIVED from a target cell size — k = ceil(n / targetCellSize) —
    * so cells stay ~constant-sized as the corpus grows and
    * [[semanticDropList]]'s within-cell sweep stays LINEAR in n
    * (Σcell² ≈ n · targetCellSize), instead of quadratic under a fixed k.
    *
    * Seeds are the k hash-minimal ids (deterministic, order-free — a
    * uniform sample under any id distribution), optionally refined by
    * `lloydRounds` cosine-assign / cell-mean rounds. The single
    * driver-side action is the sizing `count()` — k must be a plan
    * constant (broadcast pivot frame, fixed seed limit), the same class
    * of bounded action as the BSP convergence counts. At SemDeDup's
    * production k the pivot frame is ~k·dim doubles (50k × 64 ≈ 25 MB) —
    * still broadcastable; past that, assignment wants its own ANN probe —
    * the TWO-LEVEL form `graft.ops.SimilarityPack.semCells` implements
    * (⌈√k⌉ fixed supers, one n·g ranking, top-m probed Lloyd rounds with
    * an exact fallback) is the scale path of record.
    * Returns (vec_id, cid) ready for [[semanticDropList]]. */
  def sizedCells(emb: DataFrame, id: String, vec: String,
      targetCellSize: Int, lloydRounds: Int = 2): DataFrame = {
    require(targetCellSize > 0, s"targetCellSize must be positive: $targetCellSize")
    val n = emb.count()
    val k = math.max(1L, (n + targetCellSize - 1) / targetCellSize).toInt
    val pivots = emb
      .orderBy(h28(col(id).cast("string")).asc, col(id).asc)
      .limit(k)
      .select(col(id).as("pivot_id"), col(vec).as("pivot_vec"))
    var assign = ivfAssign(emb, id, vec, pivots)
    for (_ <- 1 to lloydRounds) {
      // Cell means, re-packed to an array pivot frame: empty cells simply
      // vanish (standard Lloyd), ids stay the seed ids for determinism.
      val cm = components(emb, id, vec).join(assign, "vec_id")
        .groupBy(col("cid"), col("pos"))
        .agg((rsum(col("v")) / count(lit(1))).as("cv"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("pc"))
        .select(col("cid").as("pivot_id"),
          expr("transform(pc, x -> x.cv)").as("pivot_vec"))
      assign = ivfAssign(emb, id, vec, cm)
    }
    assign
  }

  /** [[semanticDropList]] under the k ∝ n knob: cells come from
    * [[sizedCells]] at `targetCellSize`, so the pair sweep is linear in
    * the corpus by construction. The fixture query keeps the oracle's
    * fixed-k quantizer; this is the production entry point. */
  def semanticDropListSized(emb: DataFrame, id: String, vec: String,
      targetCellSize: Int, threshold: Double,
      lloydRounds: Int = 2, pairParts: Int = 256): DataFrame =
    semanticDropList(emb, id, vec,
      sizedCells(emb, id, vec, targetCellSize, lloydRounds),
      threshold, pairParts)

  /** Embedding-cosine near-duplicate pairs: native-expression prefilter
    * over all pairs with a small margin, exact decimal verify on the
    * survivors (engine-exact results at the threshold). */
  def cosineNearDups(emb: DataFrame, id: String, vec: String,
      threshold: Double): DataFrame = {
    val cand = emb.select(col(id).as("i"), col(vec).as("va"))
      .join(emb.select(col(id).as("j"), col(vec).as("vb")), col("i") < col("j"))
      .filter(call_function("cosine_sim", col("va"), col("vb")) >= threshold - 1e-4)
      .select(col("i"), col("j"))
    cosineOf(components(emb, id, vec), cand)
      .filter(col("cosine") >= threshold)
  }
}
