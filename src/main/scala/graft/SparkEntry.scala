package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gates.{CdxGates, Gate, GateSupport, MediaGates, TextGates, VectorGates}

/**
 * Driver contract — one gate per implemented operator from SURVEY.md §2:
 * a Spark plan plus a DuckDB-equivalent oracle SQL for the correctness
 * gate.
 *
 * The gates live in `graft.gates`, one [[graft.gates.Gate]] record each,
 * in four family files: `CdxGates` (web-archive records and the
 * relational/event core), `TextGates`, `VectorGates` and `MediaGates`.
 * To add a gate, add one `Gate("qNN_name", oracleSql) { (s, dir) => plan }`
 * record to its family's list; fixtures and SQL fragments shared by
 * several gates go in `GateSupport`. Everything below is a view of
 * [[gates]].
 *
 * Cross-engine exactness strategy: any aggregate over a double column is
 * reduced to integer cents per-row (`round(x*100)::bigint`) BEFORE summing —
 * per-row double expressions are bit-identical across engines when the
 * expression shape matches, and integer sums are order-independent — so
 * hash-compares are exact, never tolerance-based.
 */
object SparkEntry {

  /** Each family's gates, by family name. */
  lazy val families: Seq[(String, Seq[Gate])] = Seq(
    "cdx" -> CdxGates.all, "text" -> TextGates.all,
    "vector" -> VectorGates.all, "media" -> MediaGates.all)

  /** Every gate, once. */
  lazy val gates: Seq[Gate] = families.flatMap(_._2)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.run).toMap

  lazy val oracleSql: Map[String, String] =
    gates.map(g => g.name -> g.oracleSql).toMap

  /** The gates whose builders run a real Structured Streaming query. */
  lazy val streamingQueries: Set[String] =
    gates.filter(_.streaming).map(_.name).toSet

  /** Declared-schema table names — exposed for the SourcesSpec pin. */
  private[graft] def declaredTableSchemas = GateSupport.tableSchemas

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q02_join_agg")(spark, "/root/testdata/sf0.001")

  /** The gates a diagnostic-isolation variable (`GRAFT_BENCH_ONLY`,
    * `GRAFT_VERIFY_ONLY`) selects, in [[gates]] order: every gate when
    * `envVar` is unset, else the comma-separated names it holds. A
    * set-but-empty value (a typo'd `$UNSET_VAR`) or an unknown name
    * throws: it must fail loudly, not run zero gates and exit green. */
  def selectGates(envVar: String, env: Map[String, String] = sys.env): Seq[Gate] =
    env.get(envVar) match {
      case None => gates
      case Some(v) =>
        val names = v.split(',').map(_.trim).filter(_.nonEmpty).toSet
        require(names.nonEmpty,
          s"$envVar is set but names no queries — refusing a vacuous green")
        val unknown = names -- queries.keySet
        require(unknown.isEmpty,
          s"$envVar names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
        gates.filter(g => names(g.name))
    }
}
