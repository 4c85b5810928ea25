package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Source-URL dispatch.
  *
  * The reference picks a connector from the text before the first ':' in the
  * database URL (reference src/lib.rs:47-65; the sqlite arm additionally
  * strips a `sqlite://` prefix at src/lib.rs:59) and then forwards the SQL
  * text verbatim to that backend (src/main.rs:29 → src/lib.rs:37-43 →
  * e.g. src/db/mysql.rs:91). Spark-side, each scheme configures a
  * `DataFrameReader`; relational backends use the JDBC source with
  * whole-query pushdown (`option("query", …)`), which is the exact analogue
  * of the reference's pass-through. File-backed schemes register each table
  * file as a temp view and let Spark SQL supply the relational algebra the
  * reference outsources to MySQL/PG/SQLite.
  */
sealed trait Source {
  /** Execute `query` against this source and return the result, lazily. */
  def load(spark: SparkSession, query: String): DataFrame
}

object Source {

  /** Directory of table files; each file becomes a temp view named after its
    * basename, then the query runs on Spark SQL. Only the tables the query
    * names are read and registered ([[Referenced.tables]]): one schema read
    * per referenced table, not one per table in the directory. A statement
    * that is not a plain query, uses IDENTIFIER(...), or names a relation
    * the directory lacks registers every table instead, so its resolution
    * and its error text are unchanged. This is the scale path: the
    * scan splits per file/row-group across executors, with predicate
    * pushdown and column pruning from Catalyst — unlike the reference's
    * single-connection, one-row-per-batch stream
    * (reference src/db/mysql.rs:85-110).
    *
    * `fileExt` decouples the on-disk extension from the Spark format where
    * they differ: raw corpora are `.txt` (format `text`, one `value` line
    * column) and `.jsonl` (format `json`, NDJSON — the standard
    * training-corpus layout).
    */
  final case class Files(format: String, dir: String, fileExt: Option[String] = None)
      extends Source {
    def load(spark: SparkSession, query: String): DataFrame = {
      registerViews(spark, query)
      spark.sql(query)
    }

    /** Register, in sorted order (file tables, then directory tables), the
      * tables of `dir` that `query` names. The directory is listed and
      * checked whole — no tables, or a file and a directory table sharing a
      * name, fail whatever the query names. */
    def registerViews(spark: SparkSession, query: String): Unit = {
      val ext = "." + fileExt.getOrElse(format)
      val entries = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      val files = entries.filter(f => f.isFile && f.getName.toLowerCase(java.util.Locale.ROOT).endsWith(ext))
      // Directory tables: a subdirectory holding format files (possibly
      // under key=value partition dirs) registers under its own name, with
      // Spark's native partition discovery — at scale tables are
      // partitioned DIRECTORIES, not single files, and this is what makes
      // partition pruning reachable through the engine's SQL path.
      val dirTables = entries.filter(f => f.isDirectory &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_") &&
        containsData(f, ext, 0))
      require(files.nonEmpty || dirTables.nonEmpty, s"no *$ext files under $dir")
      def viewName(f: File) =
        if (f.getName.toLowerCase(java.util.Locale.ROOT).endsWith(ext)) f.getName.dropRight(ext.length)
        else f.getName
      val tables = (files.sortBy(_.getName) ++ dirTables.sortBy(_.getName)).map(f => viewName(f) -> f)
      // A file table and a directory table resolving to the same view name
      // (events.parquet file + events/ dir) would silently shadow one
      // another through createOrReplaceTempView — fail loudly instead.
      val dups = tables.map(_._1).groupBy(identity).collect {
        case (n, occ) if occ.size > 1 => n
      }
      require(dups.isEmpty,
        s"ambiguous table name(s) ${dups.mkString(", ")} under $dir: " +
          "a file table and a directory table share a view name")
      val named = Referenced.tables(spark, query, tables.map(_._1))
      tables.filter { case (n, _) => named.forall(_.contains(n)) }.foreach { case (n, f) =>
        graft.Tables.read(spark, format, f.getAbsolutePath).createOrReplaceTempView(n)
      }
    }

    private def containsData(f: File, ext: String, depth: Int): Boolean =
      depth <= 3 && Option(f.listFiles()).getOrElse(Array.empty[File]).exists { c =>
        (c.isFile && c.getName.toLowerCase(java.util.Locale.ROOT).endsWith(ext)) ||
          (c.isDirectory && containsData(c, ext, depth + 1))
      }
  }

  /** JDBC source with whole-query pushdown (reference S1/S2/S3,
    * src/db/{mysql,postgresql,sqlite}.rs). The full SQL string is executed by
    * the backend — the analogue of `conn.query_iter(query)`
    * (src/db/mysql.rs:91). `partitionOptions` exposes Spark's partitioned
    * JDBC read (partitionColumn/lowerBound/upperBound/numPartitions) so a
    * large extract parallelizes across executors instead of the reference's
    * single connection.
    *
    * Note: no JDBC driver jars ship in this offline environment, so this
    * path is covered by dispatch/unit tests only (SURVEY.md §7.0).
    */
  final case class Jdbc(
      url: String,
      driver: Option[String],
      partitionOptions: Map[String, String] = Map.empty) extends Source {
    /** The exact `DataFrameReader` configuration [[load]] submits — exposed
      * so the contract can be golden-tested even though `load()` itself
      * cannot run offline (no driver jars, SURVEY.md §7.0).
      *
      * Spark forbids combining `query` with `partitionColumn`; a
      * partitioned read wraps the pushed-down query as a derived table so
      * the stride predicates land inside the backend's WHERE clause. */
    def readerOptions(query: String): Map[String, String] = {
      val base = Map("url" -> url)
      val withQuery =
        if (partitionOptions.keySet.exists(_.equalsIgnoreCase("partitionColumn")))
          base + ("dbtable" -> s"($query) graft_q") ++ partitionOptions
        else base + ("query" -> query) ++ partitionOptions
      driver.fold(withQuery)(d => withQuery + ("driver" -> d))
    }

    def load(spark: SparkSession, query: String): DataFrame =
      spark.read.format("jdbc").options(readerOptions(query)).load()

    /** Register this connection as a DSv2 table catalog `name` — the
      * warehouse-deployment shape of the same source. The V1 whole-query
      * path above pushes the ENTIRE user query (the reference's
      * pass-through, src/db/mysql.rs:91); the catalog form instead exposes
      * backend tables to Catalyst, whose JDBC ScanBuilder then pushes what
      * it can — filters, pruned columns, AGGREGATES and LIMITs
      * (SupportsPushDownAggregates/Limit) — so a `groupBy().count()` over
      * a warehouse table executes IN the database and ships one row per
      * group instead of the table. JdbcLiveSpec proves the aggregate
      * lands in the backend's SQL against embedded Derby. */
    def registerCatalog(spark: SparkSession, name: String): Unit = {
      val p = s"spark.sql.catalog.$name"
      spark.conf.set(p,
        "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
      spark.conf.set(s"$p.url", url)
      spark.conf.set(s"$p.pushDownAggregate", "true")
      spark.conf.set(s"$p.pushDownLimit", "true")
      driver.foreach(d => spark.conf.set(s"$p.driver", d))
    }
  }

  /** Spark partitioned-read options recognized in a source URL's query
    * string — the one scale lever the reference's single-connection read
    * lacks (reference src/db/mysql.rs:85-86). Any other query params stay
    * in the JDBC URL untouched. */
  private val PartitionKeys =
    Set("partitioncolumn", "lowerbound", "upperbound", "numpartitions", "fetchsize")

  /** Split `?k=v&…` off a URL remainder, extracting partitioned-read keys
    * (case-insensitive) into an options map and re-attaching everything
    * else. */
  private[sources] def splitPartitionParams(rest: String): (String, Map[String, String]) = {
    val qIdx = rest.indexOf('?')
    if (qIdx < 0) (rest, Map.empty)
    else {
      val (path, qs) = (rest.substring(0, qIdx), rest.substring(qIdx + 1))
      val params = qs.split('&').toSeq.filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        if (i < 0) kv -> "" else kv.substring(0, i) -> kv.substring(i + 1)
      }
      val (part, keep) = params.partition(p => PartitionKeys.contains(p._1.toLowerCase(java.util.Locale.ROOT)))
      val keptQs = keep.map { case (k, v) => if (v.isEmpty) k else s"$k=$v" }.mkString("&")
      (if (keptQs.isEmpty) path else s"$path?$keptQs", part.toMap)
    }
  }

  /** Scheme = text before the first ':' (reference src/lib.rs:50-64). */
  def fromUrl(url: String): Source = {
    val scheme = url.takeWhile(_ != ':').toLowerCase(java.util.Locale.ROOT)
    val rest = url.drop(scheme.length + 1) match {
      case r if r.startsWith("//") => r.drop(2)
      case r => r
    }
    lazy val (dbRest, partOpts) = splitPartitionParams(rest)
    def path = "/" + rest.dropWhile(_ == '/')
    scheme match {
      case "parquet" | "orc" | "csv" | "json" => Files(scheme, path)
      // raw-corpus ingestion (bonus over the reference): .txt line files as
      // a single `value` column; .jsonl NDJSON corpora
      case "text" | "txt" => Files("text", path, Some("txt"))
      case "jsonl" => Files("json", path, Some("jsonl"))
      case "mysql" =>
        Jdbc(s"jdbc:mysql://$dbRest", Some("com.mysql.cj.jdbc.Driver"), partOpts)
      case "postgres" | "postgresql" =>
        Jdbc(s"jdbc:postgresql://$dbRest", Some("org.postgresql.Driver"), partOpts)
      // the reference strips the scheme and opens the remainder as a file
      // path (src/lib.rs:59, src/db/sqlite.rs:71)
      case "sqlite" =>
        Jdbc(s"jdbc:sqlite:/${dbRest.dropWhile(_ == '/')}", Some("org.sqlite.JDBC"), partOpts)
      case "jdbc" =>
        val (u, po) = splitPartitionParams(url)
        Jdbc(u, None, po)
      case other => throw new IllegalArgumentException(
        s"Unsupported database URL scheme '$other' in: $url")
    }
  }
}
