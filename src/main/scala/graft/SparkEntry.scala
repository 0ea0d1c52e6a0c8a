package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator registry (one entry per SURVEY §2 row);
  * `oracleSql` carries the DuckDB-equivalent SQL for every query whose
  * semantics are SQL-expressible (the driver hash-compares results).
  * [[run]] is the one loop every main runs queries through.
  */
object SparkEntry {

  /** A registered query: builds its result on a session over an sf dir. */
  type Query = (SparkSession, String) => DataFrame

  /** Flagship query (SURVEY §7.2 minimum slice) on sf=0.001; driver
    * smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.a9MultiAggQ1(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Query] =
    graft.queries.Relational.queries ++
      graft.queries.Extraction.queries ++
      graft.queries.Sources.queries ++
      graft.queries.Nested.queries ++
      graft.queries.Llm.queries ++
      graft.queries.StreamingQ.queries

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracle ++
      graft.queries.Extraction.oracle ++
      graft.queries.Sources.oracle ++
      graft.queries.Nested.oracle ++
      graft.queries.Llm.oracle ++
      graft.queries.StreamingQ.oracle

  /** What [[run]] made of each query that succeeded, in run order, and the
    * message of each that failed. */
  final case class Outcome[A](done: Seq[(String, A)], errors: Seq[(String, String)]) {
    def attempted: Int = done.size + errors.size
    def failed: Int = errors.size

    /** `{name: message, …}` as a JSON object. */
    def errorsJson: String = Jfmt.jmap(errors.map { case (k, v) => k -> Jfmt.q(v) })

    /** `"attempted":n,"failed":m,"errors":{…}`, the members every record
      * that counts failures carries. */
    def json: String = s""""attempted":$attempted,"failed":$failed,"errors":$errorsJson"""
  }

  /** The names in a comma-separated argument; none when it is absent or
    * blank. */
  def names(arg: Option[String]): Seq[String] =
    arg.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** Runs `each` on every query in `names`, in order; no names means every
    * registered query, sorted by name. A name that is not registered, or a
    * query whose `each` throws, is a counted failure: its message (the first
    * 200 characters, or the exception's class name when it has none) goes to
    * stderr and into the outcome, and the loop goes on. */
  def run[A](names: Seq[String])(each: (String, Query) => A): Outcome[A] = {
    val registry = queries
    var done = Vector.empty[(String, A)]
    var errors = Vector.empty[(String, String)]
    (if (names.isEmpty) registry.keys.toSeq.sorted else names).foreach { name =>
      try {
        val fn = registry.getOrElse(name,
          throw new NoSuchElementException(s"$name is not registered in SparkEntry.queries"))
        done :+= name -> each(name, fn)
      } catch {
        case e: Throwable =>
          val message = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          System.err.println(s"[graft] $name failed: $message")
          errors :+= name -> message
      }
    }
    Outcome(done, errors)
  }
}
