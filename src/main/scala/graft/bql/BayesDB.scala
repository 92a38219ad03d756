package graft.bql

import graft.backends.{Backends, CrossCatBackend, DetRng, GeneratorState}
import graft.catalog.{Catalog, Guess, Names, StatType, Variable}
import graft.engine.{Estimators, FittedGenerator, PopulationModel}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import scala.collection.concurrent.TrieMap

/** The engine facade — the analogue of the reference's `BayesDB` handle
  * (src/bayesdb.py): holds the session, the metadata catalog, the table
  * registry, and the fitted model states; `execute` parses one BQL phrase
  * and either runs it as a command or plans it as a DataFrame.
  *
  * Divergences from the reference, by design:
  *  - tables are immutable DataFrames in a registry (no SQLite file);
  *    BEGIN/COMMIT/ROLLBACK and the savepoint API are snapshot-backed
  *    (catalog + registry + model states), not WAL-backed.
  *  - rowid is a materialized column (zipWithIndex at ingest) because
  *    Spark has no stable implicit rowid (SURVEY §1.1).
  *  - the default backend is cgpm (the Scala CrossCat port), matching
  *    the reference (src/__init__.py:94-96).
  */
object BayesDB {

  /** Minimal RFC-4180 field split of ONE line (the CSV header): commas
    * outside double quotes separate, doubled quotes escape. Used for
    * raw-header validation only — data rows go through Spark's reader. */
  private[bql] def splitCsvLine(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var inQ = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < s.length && s.charAt(i + 1) == '"') { cur += '"'; i += 1 }
          else inQ = false
        } else cur += c
      } else c match {
        case '"' => inQ = true
        case ',' => out += cur.toString; cur.clear()
        case ch => cur += ch
      }
      i += 1
    }
    out += cur.toString
    out.result()
  }

  /** Field count of ONE raw line under a fresh RFC-4180 scan, plus whether
    * the scan ends inside an unterminated quote. An unterminated quote means
    * the line opens (or is the closing line of) a multi-line quoted field,
    * so its per-line field count is not a record arity. Serializable-static
    * on purpose: used from a Spark UDF in the ragged-row ingest probe. */
  private[bql] def csvLineArity(s: String): (Int, Boolean) = {
    var i = 0
    var inQ = false
    var n = 1
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < s.length && s.charAt(i + 1) == '"') i += 1
          else inQ = false
        }
      } else c match {
        case '"' => inQ = true
        case ',' => n += 1
        case _ => ()
      }
      i += 1
    }
    (n, inQ)
  }

  /** Reopen a persisted engine (see [[BayesDB.save]]): restores catalog,
    * fitted model states, and all tables from their parquet snapshots
    * (rowid already materialized — no re-indexing pass). */
  def open(spark: SparkSession, dir: String): BayesDB = {
    val in = new java.io.ObjectInputStream(
      new java.io.FileInputStream(s"$dir/metadata.bin"))
    val (cat, sts, tableNames, seed) =
      try {
        val c = in.readObject().asInstanceOf[Catalog]
        val st = in.readObject().asInstanceOf[Map[String, GeneratorState]]
        val tn = in.readObject().asInstanceOf[Seq[String]]
        (c, st, tn, in.readLong())
      } finally in.close()
    val bdb = new BayesDB(spark, seed)
    bdb.restore(cat, sts)
    tableNames.foreach { n =>
      bdb.registerTable(n, spark.read.parquet(s"$dir/tables/$n.parquet"))
    }
    bdb
  }
}

final class BayesDB(val spark: SparkSession, val seed: Long = 42L,
    val tableStore: Option[String] = None) {

  private var catalog0 = new Catalog
  def catalog: Catalog = catalog0
  private val tables = TrieMap.empty[String, DataFrame]
  private val states = TrieMap.empty[String, GeneratorState]
  private val customBackends = TrieMap.empty[String, graft.backends.Backend]

  /** Register a user-supplied backend on THIS engine instance, shadowing
    * any built-in of the same casefolded name — the analogue of the
    * reference's `bayesdb_register_backend(bdb, backend)`
    * (src/__init__.py:82-96; tests register LoomBackend this way).
    * Registrations are session-scoped environment, NOT catalog state:
    * they survive ROLLBACK/savepoints by design (the reference likewise
    * keeps backends on the bdb handle, outside the SQLite txn). */
  def registerBackend(backend: graft.backends.Backend): Unit =
    customBackends(Names.casefold(backend.name)) = backend

  /** Backend resolution: instance registrations first, then the
    * built-in registry. */
  private def backendByName(name: String): graft.backends.Backend =
    customBackends.getOrElse(Names.casefold(name), Backends.byName(name))

  /** One entry per open transaction/savepoint: a full engine-state
    * snapshot (catalog, table registry, model states) plus whether the
    * frame is the BQL-level transaction (only one allowed, only at the
    * bottom — reference src/txn.py:67-70) or an API savepoint
    * (nestable — src/txn.py:35-41). Snapshots are immutable, so an inner
    * rollback never invalidates an outer frame. */
  private final case class TxnFrame(
      cat: Catalog, tabs: Map[String, DataFrame],
      sts: Map[String, GeneratorState], isTransaction: Boolean)
  private var txnStack: List[TxnFrame] = Nil

  private def pushFrame(isTransaction: Boolean): TxnFrame = {
    val f = TxnFrame(catalog0.snapshot(), tables.toMap, states.toMap, isTransaction)
    txnStack = f :: txnStack
    f
  }
  private def restoreFrame(f: TxnFrame): Unit = {
    catalog0 = f.cat
    tables.clear(); tables ++= f.tabs
    states.clear(); states ++= f.sts
  }

  /** Nested savepoint (reference src/txn.py:35-41 `bayesdb_savepoint`):
    * effects of `body` are kept on normal return and rolled back if it
    * throws. Nestable to any depth, including inside a BQL BEGIN
    * transaction. */
  def savepoint[A](body: => A): A = {
    val f = pushFrame(isTransaction = false)
    try { val r = body; txnStack = txnStack.tail; r }
    catch { case e: Throwable =>
      restoreFrame(f); txnStack = txnStack.tail; throw e
    }
  }

  /** Savepoint that always rolls back at exit, success or not
    * (reference src/txn.py:44-51 `bayesdb_savepoint_rollback`) — for
    * what-if exploration without mutating engine state. */
  def savepointRollback[A](body: => A): A = {
    val f = pushFrame(isTransaction = false)
    try body
    finally { restoreFrame(f); txnStack = txnStack.tail }
  }

  /** Top-level transaction (reference src/txn.py:53-64
    * `bayesdb_transaction`): commits on normal return, rolls back if
    * `body` throws. Does not nest — errors inside any open
    * transaction/savepoint, like the reference. */
  def transaction[A](body: => A): A = {
    require(txnStack.isEmpty, "Already in a transaction")
    val f = pushFrame(isTransaction = true)
    try { val r = body; txnStack = txnStack.tail; r }
    catch { case e: Throwable =>
      restoreFrame(f); txnStack = txnStack.tail; throw e
    }
  }

  private[bql] def restore(cat: Catalog, sts: Map[String, GeneratorState]): Unit = {
    catalog0 = cat
    states.clear()
    states ++= sts
  }

  SqlFunctions.register(spark)

  /** The reference registers cgpm (CrossCat) as the default backend
    * (src/__init__.py:94-96). */
  def defaultBackend: String = "cgpm"

  // ------------------------------------------------------------- tables

  /** Register a table; materializes a stable 1-based `rowid` column if
    * absent (SQLite rowids are 1-based insertion order; zipWithIndex
    * preserves file/frame order).
    *
    * The zipWithIndex pass leaves an RDD-backed scan with no size
    * statistics and no column pruning — a scale-killer (joins can never
    * broadcast, every query deserializes full rows). Two mitigations:
    *  - default (single-process): cache the rowid'd frame columnar
    *    (accurate stats → broadcast joins; in-memory column pruning);
    *  - `tableStore` set (the cluster-scale path): write the rowid'd
    *    table back to parquet ONCE and re-read it — every later query
    *    scans a real parquet source with filter pushdown, column
    *    pruning, and file statistics.
    *
    * One-partition rule (cache path only): when the input has exactly one
    * partition, the rowid'd frame is cached behind a narrow `coalesce(1)`.
    * No data moves, but the cached scan then reports `SinglePartition`, so
    * GROUP BY, HAVING, ORDER BY, windows and sort-merge joins over the table
    * plan inside the scan's stage, without an exchange and its extra job.
    * Multi-partition inputs keep their partitions (and parallelism). */
  def registerTable(name: String, df: DataFrame): Unit = {
    val key = Names.casefold(name)
    if (df.columns.exists(c => Names.casefold(c) == "rowid")) {
      tables(key) = df
    } else {
      // pin ONE physical instance of the input across ensureRowid's two
      // jobs (the per-partition count agg, then the materialization): an
      // unpinned plan compiles and executes independently for each, and a
      // nondeterministic upstream (shuffle fetch order, AQE re-coalescing
      // decided per query) could renumber rows between them, producing
      // duplicate or gapped rowids. The pin is released once the rowid'd
      // result is materialized (parquet write, or eager cache count).
      val pinned = df.cache()
      try {
        val withRowid = ensureRowid(pinned)
        tables(key) = tableStore match {
          case Some(dir) =>
            val path = s"$dir/$key.parquet"
            withRowid.write.mode("overwrite").parquet(path)
            spark.read.parquet(path)
          case None =>
            // the partition count comes from the pinned scan's RDD, not
            // from ensureRowid's per-partition counts, which omit empty
            // partitions (and it runs no job: the pin is materialized)
            val onePartition = pinned.rdd.getNumPartitions == 1
            val cached = (if (onePartition) withRowid.coalesce(1) else withRowid).cache()
            cached.count()
            cached
        }
      } finally pinned.unpersist(blocking = false)
    }
  }

  /** Materialize 1-based insertion-order rowids WITHOUT leaving the
    * DataFrame world: `monotonically_increasing_id()` is
    * `partitionId << 33 | offsetInPartition`, so per-partition row counts
    * (one small agg, collected — numPartitions rows) plus the recovered
    * in-partition offset reproduce `rdd.zipWithIndex`'s numbering exactly
    * (partition index order, then scan order) while the data path stays
    * in Tungsten: columnar scan, codegen projection, broadcast join on
    * the partition id — no single-partition window, no RDD round-trip.
    * Numbering parity with the old zipWithIndex path is pinned by
    * BqlExecSpec ("rowid matches zipWithIndex numbering"). */
  private def ensureRowid(df: DataFrame): DataFrame =
    if (df.columns.exists(c => Names.casefold(c) == "rowid")) df
    else {
      val counts = df.groupBy(spark_partition_id().as("__pid")).count()
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (p, n)) => (p, acc + n) }
        .init.zip(counts).map { case ((_, off), (p, _)) => (p, off) }
      val offDf = broadcast(
        spark.createDataFrame(offsets.toSeq).toDF("__pid", "__off"))
      df.withColumn("__pid", spark_partition_id())
        .withColumn("__mid", monotonically_increasing_id())
        .join(offDf, "__pid")
        .withColumn("rowid",
          col("__off") + (col("__mid") - col("__pid").cast(LongType) * lit(1L << 33)) + lit(1L))
        .drop("__pid", "__mid", "__off")
    }

  def hasTable(name: String): Boolean = tables.contains(Names.casefold(name))

  /** `bayesdb_nullify`: map a sentinel value to NULL in one column
    * (reference: src/nullify.py:20-30 — UPDATE t SET c=NULL WHERE c=v;
    * here a lazy columnwise rewrite, no data copy until an action). */
  def nullify(tableName: String, column: String, value: Any): Unit = {
    val df = table(tableName)
    val key = Names.casefold(tableName)
    tables(key) = df.withColumn(column,
      when(col(column) === lit(value), lit(null)).otherwise(col(column)))
  }

  /** Full `bayesdb_nullify` surface (reference src/nullify.py +
    * tests/test_nullify.py): map the sentinel to NULL across ALL columns
    * — or the given subset — and return the number of nullified CELLS.
    * The count is ONE aggregation job over the targeted columns; the
    * rewrite itself stays lazy. rowid is never touched. */
  def nullifyValue(tableName: String, value: Any,
      columns: Option[Seq[String]] = None): Long = {
    val df = table(tableName)
    val targets = columns match {
      case Some(cs) =>
        val have = df.columns.map(c => Names.casefold(c) -> c).toMap
        cs.map(c => have.getOrElse(Names.casefold(c),
          throw new NoSuchElementException(s"No such column in $tableName: $c")))
      case None => df.columns.toSeq.filterNot(c => Names.casefold(c) == "rowid")
    }
    val changed = df.agg(
      targets.map(c => sum(when(col(c) === lit(value), 1L).otherwise(0L)))
        .reduce(_ + _).as("n")).head()
    val n = if (changed.isNullAt(0)) 0L else changed.getLong(0)
    val key = Names.casefold(tableName)
    tables(key) = targets.foldLeft(df)((d, c) =>
      d.withColumn(c, when(col(c) === lit(value), lit(null)).otherwise(col(c))))
    n
  }

  def table(name: String): DataFrame =
    tables.getOrElse(Names.casefold(name),
      throw new NoSuchElementException(s"No such table: $name"))

  // ------------------------------------------------------------- models

  /** Model numbers of a generator's fitted ensemble (empty when
    * uninitialized) — shell `.describe models` support. */
  def modelNumbers(generatorName: String): Seq[Int] =
    states.get(Names.casefold(generatorName)).map(_.modelNumbers.toSeq).getOrElse(Nil)

  /** Assemble the PopulationModel for query planning: the population's
    * fitted generator ensemble (optionally one named generator).
    * `needModels = false` admits a generator-less / model-less population
    * for queries whose estimators are data-only (CORRELATION [PVALUE] —
    * the reference computes them with no generator at all,
    * tests/test_correlation.py); the planner passes false only after
    * scanning the query for model-needing estimator forms. */
  def populationModel(populationName: String, generatorName: Option[String],
      modelnos: Option[Seq[Int]] = None,
      needModels: Boolean = true): PopulationModel = {
    val pop = catalog.population(populationName).getOrElse(
      throw new NoSuchElementException(s"No such population: $populationName"))
    val gens = generatorName match {
      case Some(g) =>
        val gen = catalog.generator(g).getOrElse(
          throw new NoSuchElementException(s"No such generator: $g"))
        require(gen.populationId == pop.id, s"Generator $g is not for population $populationName")
        Seq(gen)
      case None => catalog.generatorsOf(populationName)
    }
    require(!needModels || gens.nonEmpty,
      s"Population $populationName has no generators")
    val fitted = gens.flatMap { g =>
      states.get(Names.casefold(g.name)).map(st =>
        FittedGenerator(g.name, backendByName(g.backend), st))
    }
    require(!needModels || fitted.nonEmpty,
      s"Population $populationName has no initialized models (INITIALIZE ... MODELS FOR ...)")
    modelnos.foreach { ns =>
      val known = fitted.flatMap(_.state.modelNumbers).toSet
      val missing = ns.filterNot(known)
      require(missing.isEmpty, s"No such models: ${missing.mkString(", ")}")
    }
    val fittedIds = gens.filter(g =>
      states.contains(Names.casefold(g.name))).map(_.id).toSet
    // generatorIds scope latent-variable visibility: set only when the
    // query NAMES a generator (MODELED BY) — an unscoped query sees
    // manifest variables only (reference core.py:350-366)
    PopulationModel(pop, fitted, seed, modelnos,
      if (generatorName.isDefined) Some(fittedIds) else None)
  }

  // ------------------------------------------------------------- execute

  /** Execute one BQL phrase. Queries and result-bearing commands return
    * their DataFrame; side-effecting commands return an empty frame. */
  def execute(bql: String, bindings: Seq[Any] = Nil): DataFrame = {
    val parsed = Parser.parseOne(bql)
    require(bindings.length >= parsed.nNumpar,
      s"Query needs ${parsed.nNumpar} parameters, got ${bindings.length}")
    parsed.phrase match {
      case q: Ast.Query => Planner.plan(this, q, bindings)
      case c: Ast.Command => runCommand(c, bindings)
    }
  }

  /** Raw SQL escape hatch (reference: `bdb.sql_execute`,
    * src/bayesdb.py:284-303 — passes the text straight to SQLite with
    * the BQL math UDFs still visible). Spark-first: every registered
    * table (rowid column included) becomes a session temp view and the
    * text runs through `spark.sql` — full Spark SQL, the session's
    * registered math UDFs, Catalyst optimization. `?`/`?N`/`:name`
    * parameters are spliced as SQL literals by a small string/comment-
    * aware marker scanner (NOT the BQL lexer — the full text may use
    * Spark-only tokens like `::` casts, `arr[0]`, backquoted
    * identifiers that the BQL grammar lacks); markers inside strings,
    * comments, and backquoted names are never touched. Spark SQL has
    * no positional-bind API. */
  def sqlExecute(sql: String, bindings: Seq[Any] = Nil): DataFrame = {
    // drop views left by earlier calls whose tables have since been
    // DROPped — a stale view would keep a dropped table queryable
    sqlViews.filterNot(tables.contains).foreach { v =>
      spark.catalog.dropTempView(v)
      sqlViews -= v
    }
    tables.foreach { case (name, df) =>
      df.createOrReplaceTempView(name)
      sqlViews += name
    }
    spark.sql(if (bindings.isEmpty) sql else spliceBinds(sql, bindings))
  }

  /** Temp views this instance registered via sqlExecute (only these are
    * dropped on table removal — user-created views are never touched). */
  private val sqlViews = scala.collection.mutable.Set.empty[String]

  private def spliceBinds(sql: String, binds: Seq[Any]): String = {
    def lit(nr: Int): String = {
      require(nr >= 1 && nr <= binds.length,
        s"Query needs parameter $nr, got ${binds.length} bindings")
      // Spark's lexer backslash-escapes inside string literals (and does
      // NOT treat '' as an escaped quote - adjacent literals concatenate),
      // so escape \ first, then ' as \' - a value ending in \ must not
      // swallow the closing quote.
      def q(s: String): String =
        "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
      binds(nr - 1) match {
        case null => "NULL"
        case s: String => q(s)
        case b: Boolean => if (b) "TRUE" else "FALSE"
        case n: java.lang.Number => n.toString
        case other => q(other.toString)
      }
    }
    // Same numbering rules as the BQL lexer (bare ? sequential, ?N
    // explicit, :name/@name/$name numbered at first appearance) but as a
    // standalone scan, so the surrounding text may be arbitrary Spark SQL.
    def isNameStart(c: Char) = c.isLetter || c == '_'
    def isNameChar(c: Char) = c.isLetterOrDigit || c == '_' || c == '$'
    val named = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    var nNumpar = 0
    val sb = new StringBuilder
    val n = sql.length
    var i = 0
    while (i < n) {
      val c = sql.charAt(i)
      if (c == '\'' || c == '"' || c == '`') {
        // string literal / quoted identifier: copy through, honoring the
        // doubled-quote escape ('' "" ``)
        val q = c
        sb.append(c); i += 1
        var done = false
        while (i < n && !done) {
          sb.append(sql.charAt(i))
          if (sql.charAt(i) == q) {
            if (i + 1 < n && sql.charAt(i + 1) == q) { sb.append(q); i += 1 }
            else done = true
          }
          i += 1
        }
      } else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        val e = sql.indexOf('\n', i)
        val stop = if (e < 0) n else e + 1
        sb.append(sql.substring(i, stop)); i = stop
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        val e = sql.indexOf("*/", i + 2)
        val stop = if (e < 0) n else e + 2
        sb.append(sql.substring(i, stop)); i = stop
      } else if (c == '?') {
        i += 1
        if (i < n && sql.charAt(i).isDigit) {
          val ds = i
          while (i < n && sql.charAt(i).isDigit) i += 1
          val k = sql.substring(ds, i).toInt
          nNumpar = math.max(k, nNumpar)
          sb.append(lit(k))
        } else {
          nNumpar += 1
          sb.append(lit(nNumpar))
        }
      } else if ((c == ':' || c == '@' || c == '$') && i + 1 < n &&
                 isNameStart(sql.charAt(i + 1)) &&
                 // `x::int` cast: a ':' preceded by ':' is not a marker
                 !(c == ':' && i > 0 && sql.charAt(i - 1) == ':')) {
        i += 1
        val ns = i
        while (i < n && isNameChar(sql.charAt(i))) i += 1
        val name = sql.substring(ns, i).toLowerCase
        val nr = named.getOrElseUpdate(name, { nNumpar += 1; nNumpar })
        sb.append(lit(nr))
      } else {
        sb.append(c); i += 1
      }
    }
    sb.toString
  }

  /** Execute with named parameters (`:name`/`@name`/`$name`). */
  def executeNamed(bql: String, bindings: Map[String, Any]): DataFrame = {
    val parsed = Parser.parseOne(bql)
    val binds = (1 to parsed.nNumpar).map { n =>
      parsed.namparMap.find(_._2 == n) match {
        case Some((nm, _)) => bindings.getOrElse(nm,
          throw new IllegalArgumentException(s"Missing parameter: $nm"))
        case None => throw new IllegalArgumentException(s"Missing parameter ?$n")
      }
    }
    parsed.phrase match {
      case q: Ast.Query => Planner.plan(this, q, binds)
      case c: Ast.Command => runCommand(c, binds)
    }
  }

  // ---------------------------------------------------------- persistence

  /** Persist the engine to a directory — the analogue of the reference's
    * on-disk .bdb file (reference: bayesdb_open(pathname),
    * src/bayesdb.py:50-88): every registered table as parquet (rowid
    * included), the metadata catalog + fitted model states as a Java-
    * serialized snapshot. */
  def save(dir: String): Unit = {
    val base = new java.io.File(dir)
    base.mkdirs()
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/tables/$name.parquet")
    }
    val out = new java.io.ObjectOutputStream(
      new java.io.FileOutputStream(s"$dir/metadata.bin"))
    try {
      out.writeObject(catalog)
      out.writeObject(states.toMap)
      out.writeObject(tables.keys.toSeq)
      out.writeLong(seed)
    } finally out.close()
  }

  /** Execute a semicolon-separated BQL script (the `.bql` file / shell
    * surface, reference: shell/src/main.py:48-92); returns the last
    * phrase's result. */
  def executeScript(script: String, bindings: Seq[Any] = Nil): DataFrame =
    Parser.parseAll(script).foldLeft(emptyResult) { (_, parsed) =>
      executeParsed(parsed, bindings)
    }

  /** Execute one already-parsed phrase (the shell's per-phrase loop). */
  def executeParsed(parsed: Ast.Parametrized, bindings: Seq[Any]): DataFrame =
    parsed.phrase match {
      case q: Ast.Query => Planner.plan(this, q, bindings)
      case c: Ast.Command => runCommand(c, bindings)
    }

  /** Registered table names (casefolded). */
  def tableNames: Seq[String] = tables.keys.toSeq

  private def emptyResult: DataFrame = spark.emptyDataFrame

  private def runCommand(c: Ast.Command, binds: Seq[Any]): DataFrame = c match {
    // Transactions (reference: src/txn.py:27-121 — BQL BEGIN is
    // single-level there too; nesting is the savepoint API, here
    // [[savepoint]]/[[savepointRollback]]/[[transaction]]).
    // BEGIN snapshots the catalog, the table registry, and the fitted
    // model states; ROLLBACK restores all three. Tables are immutable
    // DataFrames, so the registry snapshot rolls back CREATE TABLE /
    // NULLIFY too; orphaned tableStore parquet is harmless. D5 narrows
    // to: no multi-statement atomicity across concurrent sessions.
    case Ast.Begin =>
      require(txnStack.isEmpty, "Already in a transaction")
      pushFrame(isTransaction = true)
      emptyResult
    case Ast.Commit =>
      require(txnStack.headOption.exists(_.isTransaction), "Not in a transaction")
      txnStack = txnStack.tail
      emptyResult
    case Ast.Rollback =>
      val f = txnStack.headOption.filter(_.isTransaction).getOrElse(
        throw new IllegalArgumentException("Not in a transaction"))
      restoreFrame(f)
      txnStack = txnStack.tail
      emptyResult

    case Ast.CreateTabAs(_, ifNotExists, name, query) =>
      if (hasTable(name)) {
        if (!ifNotExists) throw new IllegalArgumentException(s"Table already exists: $name")
      } else registerTable(name, Planner.plan(this, query, binds))
      emptyResult

    case Ast.CreateTabCsv(_, ifNotExists, name, csv) =>
      if (hasTable(name)) {
        if (!ifNotExists) throw new IllegalArgumentException(s"Table already exists: $name")
      } else {
        // reference: header required, utf-8, strict arity (read_csv.py:24-121);
        // schema inference replaces SQLite's manifest typing (divergence:
        // values get a column type, not per-value types). Spark-native
        // extension: .parquet/.json paths read their own format.
        val lower = csv.toLowerCase
        val df =
          if (lower.endsWith(".parquet")) spark.read.parquet(csv)
          else if (lower.endsWith(".orc")) spark.read.orc(csv)
          else if (lower.endsWith(".json") || lower.endsWith(".jsonl"))
            spark.read.json(csv)
          else {
            // header validation on the RAW first line (read_csv.py:64-87):
            // a header is required, names are stripped, must be non-empty
            // and casefold-unique. Spark's reader silently RENAMES
            // duplicate header names, so the DataFrame's columns cannot
            // witness a duplicate - only the file's own header can.
            val headRows = spark.read.text(csv).limit(1).collect()
            require(headRows.nonEmpty, s"Missing header in CSV file $csv")
            val names = BayesDB.splitCsvLine(headRows.head.getString(0)).map(_.trim)
            require(names.exists(_.nonEmpty), s"No columns in CSV file $csv")
            require(names.forall(_.nonEmpty),
              s"Missing column names in header of $csv: ${names.mkString(",")}")
            val dups = names.groupBy(Names.casefold).collect {
              case (n, cs) if cs.length > 1 => n }
            require(dups.isEmpty,
              s"Duplicate columns in CSV $csv: ${dups.toSeq.sorted.mkString(", ")}")
            // reference strictness: every row must have exactly the
            // header's arity (read_csv.py:90-99 raises IOError). Spark
            // pads short rows with null and drops extra fields silently
            // (even FAILFAST only fires on type-malformed records).
            // Overlong rows: re-parse all-string with a sentinel EXTRA
            // column - an overlong row lands a value there (and the real
            // parser handles multi-line quoted fields). Short rows CANNOT
            // be told apart from valid empty unquoted fields by the
            // parser - univocity reads both back as null regardless of
            // nullValue - so they are detected by counting fields per RAW
            // line with the same quote-aware scanner as the header check.
            // A line ending inside an unterminated quote marks a
            // multi-line quoted field; per-line counts are meaningless in
            // such files, so the short check is skipped for them (the
            // overlong probe still applies). Ingest-time only; at scale
            // bulk data arrives as parquet, not CSV.
            import org.apache.spark.sql.types.{StringType, StructField, StructType}
            val sentinel = "__graft_extra__"
            val probeSchema = StructType(
              names.map(c => StructField(c, StringType)) :+
                StructField(sentinel, StringType))
            val probe = spark.read.option("header", "true")
              .schema(probeSchema).csv(csv)
            val overlong = probe.filter(
              org.apache.spark.sql.functions.col(sentinel).isNotNull)
              .limit(1).count()
            require(overlong == 0,
              s"Ragged CSV row in $csv: every row must have exactly " +
                s"${names.length} fields (as the header)")
            val arityOf =
              org.apache.spark.sql.functions.udf(BayesDB.csvLineArity _)
            val F = org.apache.spark.sql.functions
            val lineStats = spark.read.text(csv)
              .select(arityOf(F.col("value")).as("a"))
              .agg(
                F.sum(F.when(F.col("a._2"), 1L).otherwise(0L)).as("open"),
                F.sum(F.when(!F.col("a._2") && F.col("a._1") < names.length,
                  1L).otherwise(0L)).as("short"))
              .head()
            val hasMultilineField = lineStats.getLong(0) > 0
            require(hasMultilineField || lineStats.getLong(1) == 0,
              s"Ragged CSV row in $csv: every row must have exactly " +
                s"${names.length} fields (as the header)")
            spark.read.option("header", "true")
              .option("inferSchema", "true").csv(csv)
          }
        registerTable(name, df)
      }
      emptyResult

    case Ast.DropTab(ifExists, name) =>
      if (!hasTable(name)) {
        if (!ifExists) throw new NoSuchElementException(s"No such table: $name")
      } else {
        val key = Names.casefold(name)
        val referencing = catalog.populationNames.filter(p =>
          catalog.population(p).exists(pp => Names.casefold(pp.table) == key))
        require(referencing.isEmpty,
          s"Table $name is in use by populations: ${referencing.mkString(", ")}")
        tables.remove(key)
      }
      emptyResult

    case Ast.AlterTab(tableName, commands) =>
      commands.foldLeft(()) { (_, cmd) =>
        cmd match {
          case Ast.AlterTabRenameTab(nw) =>
            val df = table(tableName)
            require(!hasTable(nw), s"Table already exists: $nw")
            tables.remove(Names.casefold(tableName))
            tables(Names.casefold(nw)) = df
          case Ast.AlterTabRenameCol(old, nw) =>
            val key = Names.casefold(tableName)
            tables(key) = table(tableName).withColumnRenamed(old, nw)
        }
      }
      emptyResult

    case Ast.GuessSchema(tableName) =>
      Guess.guessSchema(table(tableName).drop("rowid"))

    case Ast.CreatePop(ifNotExists, name, tableName, schema) =>
      if (catalog.population(name).isDefined) {
        if (!ifNotExists) throw new IllegalArgumentException(s"Population already exists: $name")
        emptyResult
      } else {
        val df = table(tableName)
        val baseCols = df.columns.filterNot(c => Names.casefold(c) == "rowid").toSeq
        val colIndex = baseCols.zipWithIndex.map { case (c, i) => Names.casefold(c) -> i }.toMap
        def colno(c: String): Int = colIndex.getOrElse(Names.casefold(c),
          throw new NoSuchElementException(s"No such column in $tableName: $c"))
        // every named column must exist (reference raises on unknown
        // schema columns, tests/test_error_bql.py)
        def checkExists(n: String): String = {
          require(colIndex.contains(Names.casefold(n)),
            s"No such column in $tableName: $n")
          n
        }
        val explicit = scala.collection.mutable.LinkedHashMap.empty[String, StatType]
        val ignored = scala.collection.mutable.Set.empty[String]
        var guessCols = Seq.empty[String]
        // a variable declared twice — same or different case, same or
        // different stattype — is an error (reference
        // tests/test_core.py:182-193; casefold-keyed)
        def checkFresh(n: String): String = {
          val k = Names.casefold(n)
          require(!explicit.contains(k) && !ignored(k),
            s"Duplicate variable in population schema: $n")
          n
        }
        schema.foreach {
          case Ast.PopModelVars(names, st) =>
            val stattype = StatType.parse(st).getOrElse(
              throw new IllegalArgumentException(s"Unknown stattype: $st"))
            names.foreach(n =>
              explicit(Names.casefold(checkFresh(checkExists(n)))) = stattype)
          case Ast.PopIgnoreVars(names) =>
            names.foreach(n => ignored += Names.casefold(checkFresh(checkExists(n))))
          case Ast.PopGuessVars(Nil) => guessCols = baseCols
          case Ast.PopGuessVars(names) => guessCols = guessCols ++ names.map(checkExists)
        }
        val guessed: Map[String, StatType] =
          if (guessCols.isEmpty) Map.empty
          else Guess.guessStattypes(df.select(baseCols.map(col): _*))
            .map(g => Names.casefold(g.column) -> g.stattype).toMap
        val vars = baseCols.flatMap { c =>
          val key = Names.casefold(c)
          if (ignored(key)) None
          else explicit.get(key)
            .orElse(if (guessCols.exists(g => Names.casefold(g) == key)) guessed.get(key) else None)
            .filter(st => StatType.isModeled(st))
            .map(st => Variable(c, colno(c), st))
        }
        catalog.createPopulation(name, tableName, vars)
        emptyResult
      }

    case Ast.DropPop(ifExists, name) =>
      if (catalog.population(name).isEmpty) {
        if (!ifExists) throw new NoSuchElementException(s"No such population: $name")
      } else {
        // reference names the blocking generators (tests/test_error_bql.py)
        val gens = catalog.generatorsOf(name)
        require(gens.isEmpty,
          s"Population $name still has generators: ${gens.map(_.name).mkString(", ")};" +
            " drop them first")
        catalog.dropPopulation(name)
      }
      emptyResult

    case Ast.AlterPop(popName, commands) =>
      var current = popName
      commands.foreach {
        case Ast.AlterPopRenamePop(nw) =>
          catalog.renamePopulation(current, nw)
          current = nw
        case Ast.AlterPopAddVar(varName, stattypeOpt) =>
          val pop = catalog.population(current).get
          require(pop.variable(varName).isEmpty, s"Variable already modeled: $varName")
          val df = table(pop.table)
          val baseCols = df.columns.filterNot(c => Names.casefold(c) == "rowid").toSeq
          val colno = baseCols.indexWhere(c => Names.casefold(c) == Names.casefold(varName))
          require(colno >= 0, s"No such column in ${pop.table}: $varName")
          val st = stattypeOpt match {
            case Some(s) => StatType.parse(s).getOrElse(
              throw new IllegalArgumentException(s"Unknown stattype: $s"))
            case None =>  // guess the single column (reference: bql.py addvar)
              Guess.guessStattypes(df.select(baseCols(colno))).head.stattype
          }
          require(StatType.isModeled(st), s"Cannot add $varName as ${st.name}")
          catalog.updateVariables(current,
            pop.variables :+ Variable(baseCols(colno), colno, st))
        case Ast.AlterPopStatType(names, stName) =>
          val pop = catalog.population(current).get
          val st = StatType.parse(stName).getOrElse(
            throw new IllegalArgumentException(s"Unknown stattype: $stName"))
          val keys = names.map(Names.casefold).toSet
          names.foreach(n => require(pop.variable(n).isDefined, s"No such variable: $n"))
          catalog.updateVariables(current, pop.variables.map(v =>
            if (keys(Names.casefold(v.name))) v.copy(stattype = st) else v))
      }
      emptyResult

    case Ast.CreateGen(nameOpt, ifNotExists, popName, backendOpt, schema) =>
      val pop = catalog.population(popName).getOrElse(
        throw new NoSuchElementException(s"No such population: $popName"))
      val name = nameOpt.getOrElse(popName)  // implicit generator named after pop
      if (catalog.generator(name).isDefined) {
        if (!ifNotExists) throw new IllegalArgumentException(s"Generator already exists: $name")
      } else {
        // parse + validate the generator-schema body now so errors
        // surface at CREATE time (reference re-parses with cgpm_schema)
        val parsed = GenSchema.parse(schema)
        GenSchema.validateDists(parsed, v =>
          pop.variable(v).exists(vv => StatType.isNominal(vv.stattype)))
        parsed.basics.foreach { case (v, _) =>
          require(pop.variable(v).isDefined, s"No such variable in $popName: $v")
        }
        val backendName = backendOpt.getOrElse(defaultBackend)
        parsed.deviations.foreach { case (dev, obs) =>
          require(Names.casefold(backendName) == "nig_normal",
            "DEVIATION latent variables are a nig_normal schema clause")
          require(pop.variable(obs).isDefined, s"No such variable in $popName: $obs")
          require(pop.variable(dev).isEmpty, s"Variable already exists: $dev")
        }
        // LATENT clauses + EXPOSE'd foreign outputs become generator-
        // scoped latent variables (reference: _create_schema converts
        // Foreign.exposed to Latent clauses, cgpm_backend.py:1491-1508)
        val allLatents: Seq[(String, String)] =
          parsed.latents ++ parsed.foreigns.flatMap(_.exposed)
        if (allLatents.nonEmpty || parsed.foreigns.nonEmpty) {
          require(Set("cgpm", "crosscat")(Names.casefold(backendName)),
            "LATENT / OVERRIDE MODEL clauses are cgpm schema clauses")
          val dup = allLatents.groupBy(l => Names.casefold(l._1))
            .collect { case (n, vs) if vs.length > 1 => n }
          require(dup.isEmpty,
            s"Duplicate latent variables: ${dup.toSeq.sorted.mkString(", ")}")
          allLatents.foreach { case (v, st) =>
            require(pop.variable(v).isEmpty, s"Variable already exists: $v")
            require(StatType.parse(st).isDefined, s"Unknown stattype for latent $v: $st")
          }
          val latentNames = allLatents.map(l => Names.casefold(l._1)).toSet
          val outSeen = scala.collection.mutable.Set.empty[String]
          parsed.foreigns.foreach { f =>
            (f.outputs ++ f.exposed.map(_._1)).foreach { o =>
              val key = Names.casefold(o)
              require(pop.variable(o).isDefined || latentNames(key),
                s"Unknown model variable: $o")
              require(outSeen.add(key), s"Duplicate model variable: $o")
            }
            f.inputs.foreach { in =>
              require(pop.variable(in).isDefined || latentNames(Names.casefold(in)),
                s"Unknown model variable: $in")
            }
          }
        }
        // store the token lists verbatim — re-tokenizing on a space
        // delimiter would split quoted parameters containing spaces
        val gen = catalog.createGenerator(name, popName, backendName, schema)
        val latentDefs: Seq[(String, StatType)] =
          parsed.deviations.map { case (dev, _) => dev -> (StatType.Numerical: StatType) } ++
            allLatents.map { case (v, st) => v -> StatType.parse(st).get }
        if (latentDefs.nonEmpty) {
          // register latent variables: colno < 0, owned by this generator
          // (reference: core.py:398-414)
          val existingLatents = pop.variables.count(_.isLatent)
          val latents = latentDefs.zipWithIndex.map { case ((v, st), i) =>
            Variable(v, -(existingLatents + i + 1), st, Some(gen.id))
          }
          catalog.addLatentVariables(popName, latents)
        }
      }
      emptyResult

    case Ast.DropGen(ifExists, name) =>
      if (catalog.generator(name).isEmpty) {
        if (!ifExists) throw new NoSuchElementException(s"No such generator: $name")
      } else {
        states.remove(Names.casefold(name))
        catalog.dropGenerator(name)
      }
      emptyResult

    case Ast.InitModels(ifNotExists, genName, n) =>
      val gen = catalog.generator(genName).getOrElse(
        throw new NoSuchElementException(s"No such generator: $genName"))
      // re-initializing existing models needs IF NOT EXISTS (reference:
      // src/bql.py INITIALIZE raises on already-initialized models)
      val already = catalog.modelNumbers(genName).filter(_ < n)
      require(ifNotExists || already.isEmpty,
        s"Models already initialized for $genName: ${already.mkString(", ")}" +
          " (use INITIALIZE ... IF NOT EXISTS)")
      val pop = catalog.populationNames.flatMap(catalog.population)
        .find(_.id == gen.populationId).get
      // generator schema options (SUBSAMPLE, DEVIATION, LATENT, OVERRIDE)
      // parameterize the backend; latent variables are excluded from the
      // suff-stats fit
      val parsed = GenSchema.parse(gen.schemaAst)
      // resolve OVERRIDE clauses to colno-level foreign specs (exposed
      // variables append to the node's outputs, cgpm_backend.py:1497-1501)
      def colnoOf(v: String): Int = pop.variable(v).getOrElse(
        throw new NoSuchElementException(s"No such variable: $v")).colno
      val foreignSpecs = parsed.foreigns.map { f =>
        val outs = (f.outputs ++ f.exposed.map(_._1)).map(colnoOf)
        val spec = graft.backends.ForeignCgpm.ForeignSpec(
          f.predictor, outs, f.inputs.map(colnoOf),
          outs.filter(_ < 0).toSet, f.params)
        graft.backends.ForeignCgpm.validate(spec, c =>
          pop.variables.find(_.colno == c)
            .exists(v => StatType.isNominal(v.stattype)))
        spec
      }
      // registerBackend shadows built-ins, so a user backend registered
      // under 'cgpm'/'crosscat' must win even when SUBSAMPLE/OVERRIDE
      // options are present — those options only parameterize the
      // BUILT-IN CrossCat; a shadowed backend that cannot honor them
      // gets a loud rejection instead of a silent bypass
      val backend = (Names.casefold(gen.backend), parsed.subsample, foreignSpecs) match {
        case (nm @ ("cgpm" | "crosscat"), sub, fs) if sub.isDefined || fs.nonEmpty =>
          customBackends.get(nm) match {
            case Some(custom) =>
              throw new UnsupportedOperationException(
                s"Backend '$nm' is shadowed by a registered backend that does not" +
                  " take SUBSAMPLE/OVERRIDE generator options; drop the options or" +
                  " the registration")
            case None =>
              new CrossCatBackend(subsampleRows = sub.getOrElse(500), foreigns = fs)
          }
        case _ => backendByName(gen.backend)
      }
      val df = table(pop.table)
      val manifest = pop.modeledVariables.filterNot(_.isLatent)
      val columns = manifest.map(v => v.colno -> v.name).toMap
      val nominal = manifest.filter(v => StatType.isNominal(v.stattype))
        .map(_.colno).toSet
      val deviations = parsed.deviations.map { case (dev, obs) =>
        pop.variable(dev).get.colno -> pop.variable(obs).get.colno
      }.toMap
      val modelnos = catalog.initializeModels(genName, n)
      val rng = DetRng(seed, 0xf17L, gen.id.toLong)
      // reuse an existing fitted state: IF NOT EXISTS tops up missing
      // model numbers without refitting the ones already analyzed
      val st0 = states.get(Names.casefold(genName)).getOrElse {
        val st0raw = backend.createGenerator(df, columns, nominal)
        (st0raw, backend) match {
          case (ns: graft.backends.NigNormalBackend.State, _) if deviations.nonEmpty =>
            ns.copy(deviations = deviations)
          case _ => st0raw
        }
      }
      states(Names.casefold(genName)) = backend.initializeModels(st0, modelnos, rng)
      emptyResult

    case Ast.AnalyzeModels(genName, modelnos, iterations, seconds,
        ckptIterations, ckptSeconds, program) =>
      val gen = catalog.generator(genName).getOrElse(
        throw new NoSuchElementException(s"No such generator: $genName"))
      val st = states.getOrElse(Names.casefold(genName),
        throw new IllegalStateException(s"Generator $genName has no initialized models"))
      val pop = catalog.populationNames.flatMap(catalog.population)
        .find(_.id == gen.populationId).get
      val backend = backendByName(gen.backend)
      // analysis program (reference: cgpm_analyze.parse,
      // cgpm_backend.py:1797-1888): VARIABLES/SKIP target column kernels,
      // ROWS targets row transitions, SUBPROBLEMS selects Gibbs kernels;
      // OPTIMIZED/QUIET are accepted hints
      val prog = parseAnalyzeProgram(program, pop)
      // backends may reject grammar-legal options they cannot honor
      // (loom: seconds budgets and checkpoints, loom_backend.py:420-431)
      backend.checkAnalyzeOptions(seconds, ckptIterations, ckptSeconds)
      // duration in seconds → at least one sweep (conjugate backends
      // converge in one; MCMC backends iterate)
      val iters = iterations.getOrElse(if (seconds.isDefined) 1 else 1)
      val rng = DetRng(seed, 0xa11a1e2eL, gen.id.toLong)
      states(Names.casefold(genName)) =
        backend.analyzeModels(st, modelnos, iters, rng, prog)
      emptyResult

    case Ast.DropModels(genName, which) =>
      which match {
        case None =>
          states.remove(Names.casefold(genName))
          catalog.dropModels(genName, None)
        case Some(ns) =>
          val gen = catalog.generator(genName).getOrElse(
            throw new NoSuchElementException(s"No such generator: $genName"))
          states.updateWith(Names.casefold(genName))(_.map(st =>
            backendByName(gen.backend).dropModels(st, ns)))
          catalog.dropModels(genName, Some(ns))
      }
      emptyResult

    case Ast.AlterGen(genName, modelSubset, commands) =>
      val gen = catalog.generator(genName).getOrElse(
        throw new NoSuchElementException(s"No such generator: $genName"))
      val pop = catalog.populationNames.flatMap(catalog.population)
        .find(_.id == gen.populationId).get
      var currentGen = genName
      commands.foreach {
        case Ast.AlterGenRenameGen(nw) =>
          catalog.renameGenerator(currentGen, nw)
          states.remove(Names.casefold(currentGen)).foreach(st =>
            states(Names.casefold(nw)) = st)
          currentGen = nw
        case Ast.AlterGenGeneric(tokens) =>
          runAlterGenClause(currentGen, gen.backend, pop, tokens,
            modelSubset.map(_.toSet))
      }
      emptyResult

    case r: Ast.Regress => regress(r, binds)
  }

  /** One ALTER GENERATOR clause over the cgpm_alter sub-language
    * (reference: cgpm_backend.py:396-556): ENSURE VARIABLES [* | cols]
    * DEPENDENT / INDEPENDENT / IN VIEW OF c / IN SINGLETON VIEW. */
  private def runAlterGenClause(genName: String, backendName: String,
      pop: graft.catalog.Population, tokens: Seq[String],
      only: Option[Set[Int]] = None): Unit = {
    val backend = backendByName(backendName)
    val cc = backend match {
      case b: CrossCatBackend => b
      case _ => throw new UnsupportedOperationException(
        s"ALTER GENERATOR clauses require the cgpm backend, not $backendName")
    }
    val st = states.getOrElse(Names.casefold(genName),
      throw new IllegalStateException(s"Generator $genName has no initialized models"))
    val toks = tokens.filterNot(t => t == "," || t == "(" || t == ")")
      .map(Names.casefold)
    def colno(v: String): Int = pop.variable(v).getOrElse(
      throw new NoSuchElementException(s"No such variable: $v")).colno
    val updated = toks match {
      case Seq("ensure", "variables", "*", "dependent") =>
        cc.ensureAllDependent(st, only)
      case Seq("ensure", "variables", "*", "independent") =>
        cc.ensureAllIndependent(st, only)
      case "ensure" +: "variables" +: rest if rest.takeRight(3) == Seq("in", "singleton", "view") =>
        cc.ensureSingleton(st, rest.dropRight(3).map(colno), only)
      case "ensure" +: "variables" +: rest if rest.length >= 4 &&
          rest(rest.length - 4) == "in" && rest(rest.length - 3) == "view" &&
          rest(rest.length - 2) == "of" =>
        cc.ensureInViewOf(st, rest.dropRight(4).map(colno), colno(rest.last), only)
      case "ensure" +: ("row" | "rows") +: rest if rest.length >= 9 &&
          rest.containsSlice(Seq("in", "cluster", "of", "row")) &&
          rest(rest.length - 4) == "within" && rest(rest.length - 3) == "view" &&
          rest(rest.length - 2) == "of" =>
        // ENSURE ROWS r… IN CLUSTER OF ROW a WITHIN VIEW OF c — the
        // "of" of WITHIN VIEW OF is consumed as part of the tail
        val splitAt = rest.indexOfSlice(Seq("in", "cluster", "of", "row"))
        val rows = rest.take(splitAt).map(_.toLong)
        val anchor = rest(splitAt + 4).toLong
        cc.ensureRowsInCluster(st, rows, anchor, colno(rest.last), only)
      case other => throw new UnsupportedOperationException(
        s"ALTER GENERATOR clause not supported: ${other.mkString(" ")}")
    }
    states(Names.casefold(genName)) = updated
  }

  /** Parse an ANALYZE program's tokens (reference grammar:
    * src/backends/cgpm_analyze/grammar.y): `VARIABLES a, b` → those
    * colnos; `SKIP a` → all-but; `ROWS 1, 2` → row targets;
    * `SUBPROBLEM[S] [(]variable|row clustering [concentration] |
    * variable hyperparameters[)]` → kernel selection; hints
    * (OPTIMIZED/QUIET) ignored. */
  private def parseAnalyzeProgram(program: Seq[String],
      pop: graft.catalog.Population): graft.backends.AnalyzeProgram = {
    import graft.backends.AnalyzeProgram
    if (program.isEmpty) return AnalyzeProgram()
    val toks = program.filterNot(t => t == "," || t == "(" || t == ")" || t == ";")
      .map(Names.casefold)
    def colnoOf(v: String): Int = pop.variable(v).getOrElse(
      throw new NoSuchElementException(s"No such variable: $v")).colno
    var i = 0
    var variables: Option[Seq[Int]] = None
    var rows: Option[Seq[Long]] = None
    var subproblems: Option[Seq[String]] = None
    val keywords = Set("variables", "skip", "rows", "subproblem", "subproblems",
      "optimized", "quiet", "loom")
    def names(): Seq[String] = {
      val out = Seq.newBuilder[String]
      while (i < toks.length && !keywords(toks(i))) { out += toks(i); i += 1 }
      out.result()
    }
    while (i < toks.length) {
      toks(i) match {
        case "variables" => i += 1; variables = Some(names().map(colnoOf))
        case "skip" =>
          i += 1
          val skipped = names().map(Names.casefold).toSet
          variables = Some(pop.modeledVariables
            .filterNot(v => skipped(Names.casefold(v.name))).map(_.colno))
        case "rows" =>
          i += 1
          rows = Some(rows.getOrElse(Nil) ++ names().map(_.toLong))
        case "subproblem" | "subproblems" =>
          i += 1
          // multi-word kernel names: variable|row clustering
          // [concentration] | variable hyperparameters
          val out = Seq.newBuilder[String]
          while (i < toks.length && (toks(i) == "variable" || toks(i) == "row")) {
            val head = toks(i); i += 1
            require(i < toks.length, s"Incomplete subproblem after '$head'")
            toks(i) match {
              case "hyperparameters" if head == "variable" =>
                i += 1; out += "variable_hyperparameters"
              case "clustering" =>
                i += 1
                if (i < toks.length && toks(i) == "concentration") {
                  i += 1; out += s"${head}_clustering_concentration"
                } else out += s"${head}_clustering"
              case other => throw new IllegalArgumentException(
                s"Invalid subproblem: $head $other")
            }
          }
          subproblems = Some(subproblems.getOrElse(Nil) ++ out.result())
        case "optimized" | "quiet" | "loom" => i += 1  // accepted hints
        case other => throw new UnsupportedOperationException(
          s"ANALYZE program clause not supported: $other")
      }
    }
    AnalyzeProgram(variables, rows, subproblems)
  }

  /** `REGRESS target GIVEN (givens) [USING n SAMPLES] BY p` — simulate
    * the joint, then ordinary least squares via normal equations
    * (reference: src/bql.py:695-787 + src/regress.py:21-48; the
    * reference uses sklearn LinearRegression — normal equations give the
    * same coefficients exactly). Nominal givens are K-1 dummy-coded
    * (regress.py:29-37: pandas get_dummies appends `<var>_dum_<cat>`
    * columns after the numeric givens, categories sorted; the first
    * category is dropped and reported with coefficient 0). Output:
    * (variable, coefficient). */
  private def regress(r: Ast.Regress, binds: Seq[Any]): DataFrame = {
    val pm = populationModel(r.population, r.generator)
    val givens = r.givens.flatMap {
      case Ast.SelColExp(Ast.ExpCol(_, c), _) => Seq(c)
      case Ast.SelColAll(_) =>
        // GIVEN (*): every modeled manifest variable except the target
        // (reference: tests/test_regress.py:78-86)
        pm.visibleVariables.filterNot(_.isLatent).map(_.name)
          .filterNot(v => Names.casefold(v) == Names.casefold(r.target))
      case other => throw new IllegalArgumentException(
        s"REGRESS givens must be population variables: $other")
    }.distinct
    def isNominalVar(v: String): Boolean =
      pm.population.variable(v).exists(x => StatType.isNominal(x.stattype))
    if (isNominalVar(r.target)) throw new IllegalArgumentException(
      s"REGRESS target must be numerical: ${r.target}")
    val n = r.nsamples.map(e => Planner.evalConstInt(this, e, binds)).getOrElse(100)
    val cols = r.target +: givens
    val sampled = Estimators.simulate(spark, pm, cols, Nil, n).collect()
    val numericGivens = givens.filterNot(isNominalVar)
    val nominalGivens = givens.filter(isNominalVar)
    // Categories present in the sample, sorted (pandas get_dummies order);
    // the first is the dropped reference level.
    val giOf = givens.zipWithIndex.toMap
    val categories: Map[String, Seq[String]] = nominalGivens.map { v =>
      val gi = giOf(v) + 1
      v -> sampled.iterator.map(_.getString(gi)).filter(_ != null).toSeq.distinct.sorted
    }.toMap
    val keptNames = numericGivens ++ nominalGivens.flatMap { v =>
      categories(v).drop(1).map(c => s"${v}_dum_$c")
    }
    val droppedNames = nominalGivens.flatMap { v =>
      categories(v).take(1).map(c => s"${v}_dum_$c")
    }
    if (keptNames.isEmpty || sampled.isEmpty)
      throw new IllegalArgumentException("Not enough data for regression")
    // X = [1 | numeric givens | K-1 dummies], y = target;
    // beta = (X'X)^-1 X'y via Gaussian elim
    val k = keptNames.length + 1
    val xtx = Array.ofDim[Double](k, k)
    val xty = new Array[Double](k)
    sampled.foreach { row =>
      val x = new Array[Double](k)
      x(0) = 1.0
      var p = 1
      numericGivens.foreach { v => x(p) = row.getDouble(giOf(v) + 1); p += 1 }
      nominalGivens.foreach { v =>
        val obs = row.getString(giOf(v) + 1)
        categories(v).drop(1).foreach { c => x(p) = if (obs == c) 1.0 else 0.0; p += 1 }
      }
      val y = row.getDouble(0)
      for (i <- 0 until k; j <- 0 until k) xtx(i)(j) += x(i) * x(j)
      for (i <- 0 until k) xty(i) += x(i) * y
    }
    val beta = solveLinear(xtx, xty)
    val rows = ("intercept", beta(0)) +:
      (keptNames.zipWithIndex.map { case (g, i) => (g, beta(i + 1)) } ++
        droppedNames.map(d => (d, 0.0)))
    import spark.implicits._
    // one partition the planner knows of: ORDER BY / GROUP BY over the
    // coefficients plan without an exchange
    rows.toDF("variable", "coefficient").coalesce(1)
  }

  /** Solve A x = b by Gaussian elimination with partial pivoting (A is
    * k×k, k small — the givens count). */
  private def solveLinear(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val k = b0.length
    val a = a0.map(_.clone())
    val b = b0.clone()
    for (col <- 0 until k) {
      val piv = (col until k).maxBy(r => math.abs(a(r)(col)))
      val tmp = a(col); a(col) = a(piv); a(piv) = tmp
      val tb = b(col); b(col) = b(piv); b(piv) = tb
      require(math.abs(a(col)(col)) > 1e-12, "Singular design matrix in REGRESS")
      for (r <- col + 1 until k) {
        val f = a(r)(col) / a(col)(col)
        for (c <- col until k) a(r)(c) -= f * a(col)(c)
        b(r) -= f * b(col)
      }
    }
    val x = new Array[Double](k)
    for (r <- (k - 1) to 0 by -1) {
      var s = b(r)
      for (c <- r + 1 until k) s -= a(r)(c) * x(c)
      x(r) = s / a(r)(r)
    }
    x
  }
}
