package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog entry: a named query, the oracle that checks it, and the
  * builder that plans it over an sf directory.
  *
  * The oracle is DuckDB SQL whose column names match the Spark result
  * exactly (the compare sorts columns by name before hashing). Three kinds:
  *   1. genuinely SQL-expressible queries — plain DuckDB SQL over the sf
  *      tables;
  *   2. kernel queries with a reference counterpart — committed golden
  *      parquet produced by the EXECUTING reference
  *      (tools/oracle/gen_kernel_goldens.py, sf0.01 inputs);
  *   3. kernel queries original to this library — committed golden parquet
  *      from clean-room Python reimplementations (tools/oracle/graftpy.py),
  *      a true independent differential, not Spark output.
  * DuckDB reads a golden parquet directly from its absolute path.
  */
final case class Query(name: String, oracle: String)(
    val build: (SparkSession, String) => DataFrame)

object Query {

  /** An entry checked against its own golden parquet. */
  def apply(name: String)(build: (SparkSession, String) => DataFrame): Query =
    Query(name, golden(name))(build)

  /** Repo checkout root for the committed fixtures and goldens: the
    * working directory (sbt's forked runs start at the project root), or
    * `GRAFT_REPO_DIR` when run from elsewhere.
    */
  private[graft] val RepoDir: String =
    sys.env.getOrElse("GRAFT_REPO_DIR", sys.props("user.dir"))

  val GoldenDir = s"$RepoDir/src/test/resources/goldens/sf0.01"

  def golden(name: String): String =
    s"SELECT * FROM '$GoldenDir/$name.parquet'"
}
