package graft

import graft.catalog.Query
import org.scalatest.funsuite.AnyFunSuite

/** The query catalog's structure, checked without a Spark session: every
  * name is unique across the families, `queries` and `oracleSql` cover
  * the same names, and each name keeps the oracle it had when the catalog
  * was split into families (`catalog_oracles.tsv`, the repo dir written as
  * `${REPO_DIR}`, backslash, newline, CR and tab escaped).
  */
class CatalogSpec extends AnyFunSuite {

  test("167 query names, unique across the families") {
    val names = SparkEntry.catalog.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(dups.isEmpty, s"duplicate names: ${dups.toSeq.sorted.mkString(", ")}")
    assert(names.size == 167)
  }

  test("the oracle keys equal the query keys") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("every (name, oracle) pair equals the committed snapshot") {
    def esc(s: String): String = s.flatMap {
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c => c.toString
    }
    val actual = SparkEntry.catalog.sortBy(_.name).map { q =>
      q.name + "\t" + esc(q.oracle.replace(Query.RepoDir, "${REPO_DIR}"))
    }
    val src = scala.io.Source.fromResource("catalog_oracles.tsv", getClass.getClassLoader)
    val expected = try src.getLines().toVector finally src.close()
    val missing = expected.diff(actual)
    val extra = actual.diff(expected)
    assert(missing.isEmpty && extra.isEmpty,
      s"\nsnapshot lines not produced:\n${missing.mkString("\n")}" +
        s"\nproduced lines not in the snapshot:\n${extra.mkString("\n")}")
  }
}
