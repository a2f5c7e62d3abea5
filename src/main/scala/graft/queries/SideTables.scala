package graft.queries

import org.apache.spark.sql.DataFrame

/** Oracle side tables: SF-scoped roots and the one staging write.
  *
  * Several queries stage intermediate results to a parquet side table
  * that their DuckDB dual reads back (`... FROM '/tmp/...parquet'`),
  * all through [[stage]].
  * The staged contents are derived from the SF input tables, so the
  * root must be scoped BY SF: a fixed path lets any later run at a
  * different scale factor (e.g. the Bench sweep at sf0.1, or a test
  * JVM) silently overwrite the side table a pending sf0.01 DuckDB
  * replay still needs — the replay then compares this run's Spark
  * output against an oracle rebuilt from another run's staged data and
  * reads as a value mismatch even though both engines are right.
  * (Observed live in round 5: q_pq_ivf's codebook side table clobbered
  * between the Verify dump and the replay.)
  *
  * The token is a JVM-wide system property set by the entry mains
  * (Verify/Bench) from their SF dir BEFORE any query object
  * initializes; JVMs that never set it (bare test suites) get their
  * own "default" namespace. Two concurrent runs at the SAME SF still
  * share a root, which is safe: every stage is deterministic from the
  * SF data, so a same-SF overwrite rewrites identical values.
  */
object SideTables {

  final val TokenProp = "graft.sf.token"

  /** Sanitized SF token, e.g. "sf0_01". A `def` deliberately: a val
    * would freeze during THIS object's init, which the entry main's own
    * `setTokenFromSfDir` call triggers — i.e. it would always read the
    * pre-set "default" and make the SF scoping inert. Reading the
    * property per access keeps root() correct regardless of object
    * initialization order (roots embedded in query SQL still settle at
    * query-object init, which the mains sequence after the set call). */
  def Token: String =
    sys.props.getOrElse(TokenProp, "default")

  /** Set the JVM's SF token from the SF data dir (entry mains only —
    * must run before any query object is touched). */
  def setTokenFromSfDir(sfDir: String): Unit =
    System.setProperty(TokenProp,
      new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9]", "_"))

  def root(name: String): String = s"/tmp/graft_${name}_$Token"

  /** Stage `df` as a side table: write it as ONE parquet file at `dir`
    * (`coalesce(1)`, overwriting what is there) and return the frame
    * read back from that path, so the engine query consumes the same
    * bytes its dual replays. The read-back takes `df`'s schema, so it
    * infers nothing and runs no job; callers that only feed the dual
    * ignore it.
    *
    * Callers must keep `df` bounded independently of the scale factor:
    * the single file is written by one task. Every staged frame is a
    * fixed lattice (the gsd-10, gsd-5 and gsd-120 DSMs) or a fixture
    * constant (4000 pages, 3000/3000 url metadata rows, 4000 urls, 5000
    * items, 1000 line docs, 480 dup docs, 20000 align samples, PQ
    * codebooks), so no size gate is needed. */
  def stage(df: DataFrame, dir: String): DataFrame = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    df.sparkSession.read.schema(df.schema).parquet(dir)
  }
}
