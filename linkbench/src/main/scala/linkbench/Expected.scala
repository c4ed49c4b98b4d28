package linkbench

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper

/** Committed result digests, per fixture directory name and operation:
  * `{"sf0.1": {"graph_ppr": {"rows": 80, "hash": "123"}}}`. An entry
  * without `hash` is checked by row count only (the MLlib solvers). */
final class Expected(file: String, dataDir: String, record: Boolean) {
  private val key = new java.io.File(dataDir).getName
  private val table: Map[String, (Long, Option[Long])] =
    if (record) Map.empty
    else {
      val root = new ObjectMapper().readTree(new java.io.File(file)).path(key)
      root.properties().asScala.map { e =>
        val h = e.getValue.path("hash")
        e.getKey -> ((e.getValue.path("rows").asLong(-1),
          if (h.isMissingNode) None else Some(h.asText.toLong)))
      }.toMap
    }
  private val observed = TrieMap.empty[String, Digest]

  /** None when `d` matches, else why it does not. */
  def check(op: String, d: Digest): Option[String] = {
    val prev = observed.putIfAbsent(op, d)
    if (record) prev.filter(_ != d).map(p => s"digest changed between passes: $p then $d")
    else table.get(op) match {
      case None => Some(s"no expected digest for $op on $key")
      case Some((rows, _)) if rows != d.rows => Some(s"rows ${d.rows}, expected $rows")
      case Some((_, Some(h))) if h != d.hash => Some(s"content hash ${d.hash}, expected $h")
      case _ => None
    }
  }

  def observedJson: Json = Json.obj(key -> Json.obj(observed.toSeq.sortBy(_._1).map {
    case (op, d) => op -> Json.obj("rows" -> Json.num(d.rows.toDouble), "hash" -> Json.str(d.hash.toString))
  }: _*))
}
