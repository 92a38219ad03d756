package graft.bql

import graft.functions.SpecialMath
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** The BQL scalar/aggregate function surface:
  *
  *  - SQLite built-ins pass through with a name map to Spark equivalents
  *    (reference: src/compiler.py:1798-1812 passes any application
  *    through to SQLite; we enumerate the SQLite builtin surface).
  *  - The bqlmath UDFs (reference: src/bqlmath.py:20-52) — the ones Spark
  *    lacks natively (erf, erfc, gamma, ldexp, copysign, fmod) are
  *    registered as session UDFs over graft.functions.SpecialMath, so
  *    both the BQL compiler and raw `spark.sql` see them.
  */
object SqlFunctions {

  /** Gamma function via lgamma + reflection (bqlmath `gamma` is
    * math.gamma; SpecialMath.lgamma is the scipy-free Lanczos port). */
  def gammaFn(x: Double): Double =
    if (x > 0) math.exp(SpecialMath.lgamma(x))
    else if (x == math.rint(x)) Double.NaN  // poles at 0, -1, -2, …
    else math.Pi / (math.sin(math.Pi * x) * math.exp(SpecialMath.lgamma(1.0 - x)))

  /** Register the math UDF surface on the session, once: every
    * `BayesDB` calls this, and a session that already has all eight
    * functions keeps its registrations (re-registering would replace
    * each function's builder and log a warning per function). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!UdfNames.forall(n => registry.functionExists(FunctionIdentifier(n)))) {
      spark.udf.register("erf", (x: Double) => SpecialMath.erf(x))
      spark.udf.register("erfc", (x: Double) => SpecialMath.erfc(x))
      spark.udf.register("gamma", (x: Double) => gammaFn(x))
      spark.udf.register("lgamma", (x: Double) => SpecialMath.lgamma(x))
      spark.udf.register("ldexp", (x: Double, i: Int) => x * math.pow(2.0, i))
      spark.udf.register("copysign", (x: Double, y: Double) => math.copySign(x, y))
      spark.udf.register("fmod", (x: Double, y: Double) => x % y)
      spark.udf.register("fabs", (x: Double) => math.abs(x))
    }
  }

  private val UdfNames =
    Seq("erf", "erfc", "gamma", "lgamma", "ldexp", "copysign", "fmod", "fabs")

  /** Aggregate function names (SQLite's complete aggregate surface). */
  val aggregateNames: Set[String] =
    Set("count", "sum", "total", "avg", "min", "max", "group_concat")

  /** Is `name(args)` an aggregate application? min/max with more than one
    * argument are SQLite's scalar least/greatest. */
  def isAggregate(name: String, arity: Int): Boolean = {
    val n = name.toLowerCase
    aggregateNames.contains(n) && !((n == "min" || n == "max") && arity > 1)
  }

  /** Compile an aggregate application. */
  def aggregate(name: String, distinct: Boolean, args: Seq[Column]): Column =
    (name.toLowerCase, args) match {
      case ("count", Seq(a)) => if (distinct) count_distinct(a) else count(a)
      case ("sum", Seq(a)) => if (distinct) sum_distinct(a) else sum(a)
      // SQLite total(): sum as float, 0.0 (not NULL) on empty input
      case ("total", Seq(a)) => coalesce(sum(a.cast("double")), lit(0.0))
      case ("avg", Seq(a)) => if (distinct) avg(a) else avg(a)
      case ("min", Seq(a)) => min(a)
      case ("max", Seq(a)) => max(a)
      case ("group_concat", Seq(a)) => concat_ws(",", collect_list(a.cast("string")))
      // custom separator: array_join's SQL form takes the delimiter as an
      // expression (the Scala helper only accepts a literal String)
      case ("group_concat", Seq(a, sep)) =>
        call_function("array_join", collect_list(a.cast("string")), sep.cast("string"))
      case _ => throw new IllegalArgumentException(
        s"Bad aggregate: $name/${args.length}")
    }

  /** Compile a scalar application: SQLite name → Spark function.
    * Unknown names fall back to `call_udf` so session-registered UDFs
    * (erf & co, user extensions) resolve. */
  def scalar(name: String, args: Seq[Column]): Column = {
    val n = name.toLowerCase
    (n, args) match {
      case ("ifnull", Seq(a, b)) => coalesce(a, b)
      case ("coalesce", as) => coalesce(as: _*)
      case ("nullif", Seq(a, b)) => nullif(a, b)
      case ("abs", Seq(a)) => abs(a)
      case ("length", Seq(a)) => length(a)
      case ("lower", Seq(a)) => lower(a)
      case ("upper", Seq(a)) => upper(a)
      case ("trim", Seq(a)) => trim(a)
      case ("trim", Seq(a, b)) => trim(a, b)
      case ("ltrim", Seq(a)) => ltrim(a)
      case ("rtrim", Seq(a)) => rtrim(a)
      case ("replace", Seq(a, b, c)) => replace(a, b, c)
      case ("instr", Seq(a, b)) => instr(a, b)
      case ("substr" | "substring", Seq(a, b)) => substr(a, b, lit(Int.MaxValue))
      case ("substr" | "substring", Seq(a, b, c)) => substr(a, b, c)
      case ("hex", Seq(a)) => upper(hex(a))
      case ("round", Seq(a)) => round(a, 0)
      case ("round", Seq(a, b)) => round(a, b)
      case ("sign", Seq(a)) => signum(a)
      // SQLite min/max with 2+ args are scalar least/greatest
      case ("min", as) if as.length > 1 => least(as: _*)
      case ("max", as) if as.length > 1 => greatest(as: _*)
      case ("char", as) => concat(as.map(a => chr(a)): _*)
      case ("unicode", Seq(a)) => ascii(a)
      case ("quote", Seq(a)) =>
        concat(lit("'"), regexp_replace(a.cast("string"), "'", "''"), lit("'"))
      case ("typeof", _) => throw new IllegalArgumentException(
        "typeof() has no Spark equivalent (manifest typing)")
      // math with native Spark codegen
      case ("acos", Seq(a)) => acos(a)
      case ("acosh", Seq(a)) => acosh(a)
      case ("asin", Seq(a)) => asin(a)
      case ("asinh", Seq(a)) => asinh(a)
      case ("atan", Seq(a)) => atan(a)
      case ("atan2", Seq(a, b)) => atan2(a, b)
      case ("atanh", Seq(a)) => atanh(a)
      case ("ceil" | "ceiling", Seq(a)) => ceil(a)
      case ("cos", Seq(a)) => cos(a)
      case ("cosh", Seq(a)) => cosh(a)
      case ("degrees", Seq(a)) => degrees(a)
      case ("radians", Seq(a)) => radians(a)
      case ("exp", Seq(a)) => exp(a)
      case ("expm1", Seq(a)) => expm1(a)
      case ("floor", Seq(a)) => floor(a)
      case ("hypot", Seq(a, b)) => hypot(a, b)
      case ("log" | "ln", Seq(a)) => log(a)       // bqlmath `log` is ln
      case ("log10", Seq(a)) => log10(a)
      case ("log2", Seq(a)) => log2(a)
      case ("pow" | "power", Seq(a, b)) => pow(a, b)
      case ("sqrt", Seq(a)) => sqrt(a)
      case ("sin", Seq(a)) => sin(a)
      case ("sinh", Seq(a)) => sinh(a)
      case ("tan", Seq(a)) => tan(a)
      case ("tanh", Seq(a)) => tanh(a)
      case ("pi", Seq()) => lit(math.Pi)
      case ("factorial", Seq(a)) => factorial(a)
      // session UDFs (erf, erfc, gamma, lgamma, ldexp, copysign, fmod,
      // fabs) and any user-registered function
      case _ => call_udf(n, args: _*)
    }
  }
}
