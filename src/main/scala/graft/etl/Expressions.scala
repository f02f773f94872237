package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar expression layer — every row-level transformation the reference
  * performs, compiled to Catalyst built-in expressions (no UDFs, so the
  * whole plan stays inside whole-stage codegen and Catalyst can push /
  * prune / fold around them).
  *
  * Reference inventory: SURVEY.md §2.3 (strings / regex) and §2.4
  * (date / time). Citations are into /root/reference/.
  */
object Expressions {

  import org.apache.spark.sql.graftbridge.Bridge

  /** F1 — `clean_customer_name` (cartera.py:92-98; pending_orders.py:102-107).
    * null→null; lowercase+trim; strip everything but [a-z0-9\s]; collapse
    * runs of whitespace to one space; trim again. Native one-pass kernel
    * (graft.plans.CleanName) — the two-regex-pass reference chain stays
    * as [[cleanCustomerNameRef]], its property-test twin.
    */
  def cleanCustomerName(c: Column): Column =
    Bridge.column(graft.plans.CleanName(Bridge.expression(c)))

  /** The built-in-chain formulation of [[cleanCustomerName]] (two regex
    * passes) — kept as the native kernel's value twin (CleanExprSpec). */
  def cleanCustomerNameRef(c: Column): Column =
    trim(
      regexp_replace(
        regexp_replace(lower(trim(c)), "[^a-z0-9\\s]", ""),
        "\\s+", " "))

  private def stripNumeric(c: Column, mode: String): Column =
    Bridge.column(graft.plans.StripNumeric(Bridge.expression(c.cast("string")), mode))

  /** F2 — light normalization, ventas lookup key (ventas_totales.py:145,149). */
  def normLower(c: Column): Column = lower(trim(c))

  /** F3 — upper+trim, wor2 client lookup key (wor2.py:327-329). */
  def normUpper(c: Column): Column = upper(trim(c))

  /** F4 — accounting-format money parse (cartera.py:143-149).
    * `'($1,234.56)'` → -1234.56; `(` must become `-` BEFORE the other
    * symbols are dropped; unparseable → 0.0. Strip stage is the native
    * one-pass kernel (graft.plans.StripNumeric); the try_cast stays a
    * built-in so cast semantics are Spark's own.
    */
  def parseMoneyAccounting(c: Column): Column =
    coalesce(stripNumeric(c, "accounting").try_cast("double"), lit(0.0))

  /** Regex-chain twin of [[parseMoneyAccounting]] (CleanExprSpec). */
  def parseMoneyAccountingRef(c: Column): Column =
    coalesce(
      regexp_replace(
        regexp_replace(trim(c.cast("string")), "\\(", "-"),
        "[\\)\\$,]", "").try_cast("double"),
      lit(0.0))

  /** F5 — plain money parse (pending_orders.py:139-140): drop $ , and
    * whitespace, default 0.0. */
  def parseMoney(c: Column): Column =
    coalesce(stripNumeric(c, "money").try_cast("double"), lit(0.0))

  /** Regex twin of [[parseMoney]] (CleanExprSpec). */
  def parseMoneyRef(c: Column): Column =
    coalesce(
      regexp_replace(c.cast("string"), "[\\$,\\s]", "").try_cast("double"),
      lit(0.0))

  /** Null-preserving variant of [[parseMoney]] — the ventas amount parse
    * (ventas_totales.py:124-128 keeps NaN to count non-numerics; no 0.0
    * default). */
  def parseMoneyNullable(c: Column): Column =
    stripNumeric(c, "money").try_cast("double")

  /** F6 — thousands-separated int parse (pending_orders.py:142-143). */
  def parseIntThousands(c: Column): Column =
    coalesce(stripNumeric(c, "thousands").try_cast("double"), lit(0.0))
      .cast("int")

  /** Regex twin of [[parseIntThousands]] (CleanExprSpec). */
  def parseIntThousandsRef(c: Column): Column =
    coalesce(regexp_replace(c.cast("string"), ",", "").try_cast("double"), lit(0.0))
      .cast("int")

  /** F7 — CHAR(n) guard (pending_orders.py:146,149). */
  def truncate(c: Column, n: Int): Column =
    substring(trim(c.cast("string")), 1, n)

  def truncateWithDefault(c: Column, n: Int, default: String): Column =
    coalesce(truncate(c, n), lit(default))

  /** F8 — literal replacement (cartera.py:110). */
  def replaceLiteral(c: Column, from: String, to: String): Column =
    when(c === lit(from), lit(to)).otherwise(c)

  /** F9 — coordinated two-column conditional rewrite (cartera.py:100-108).
    * Each rule is (zonaMatch, clienteMatch, newZona, newCliente); first
    * matching rule wins (np.where chains evaluate in order). Returns the
    * rewritten (zona, cliente) column pair.
    */
  def conditionalRewrite(
      zona: Column, cliente: Column,
      rules: Seq[(String, String, String, String)]): (Column, Column) = {
    val zOut = rules.foldRight(zona) { case ((z, cl, nz, _), acc) =>
      when(trim(zona) === z && trim(cliente) === cl, lit(nz)).otherwise(acc)
    }
    val cOut = rules.foldRight(cliente) { case ((z, cl, _, nc), acc) =>
      when(trim(zona) === z && trim(cliente) === cl, lit(nc)).otherwise(acc)
    }
    (zOut, cOut)
  }

  /** Reference e-commerce rules (cartera.py:101-108). */
  val EcommerceRules: Seq[(String, String, String, String)] = Seq(
    ("Walmart", "Ecommerce", "E-Commerce", "Walmart Ecommerce"),
    ("Amazon", "Ecommerce", "E-Commerce", "Amazon"))

  // ---------------------------------------------------------------- dates

  /** D1 — lenient date parse (`errors='coerce'`): null on failure.
    * Multiple candidate formats, first that parses wins (pandas infers). */
  def parseDateLenient(c: Column, formats: Seq[String] = Seq("M/d/yyyy", "yyyy-MM-dd")): Column =
    coalesce(formats.map(f => try_to_date(c, f)): _*)

  /** D2 — strict-format parse (ventas_totales.py:133, %m/%d/%Y). Under
    * non-ANSI mode Spark returns null instead of raising; the pipeline
    * treats that as a data error upstream. */
  def parseDateStrict(c: Column, format: String = "M/d/yyyy"): Column =
    try_to_date(c, format)

  /** D4 — date → 'yyyy-MM-dd' string (cartera.py:170,172). */
  def formatDateIso(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** D5 — invalid date default (pending_orders.py:86). */
  def dateWithDefault(c: Column, default: String = "1900-01-01"): Column =
    coalesce(c, to_date(lit(default)))

  /** D6 — temporal dimension derivation (pending_orders.py:87-90):
    * (nombre_mes English full month name, mes, dia, año). */
  def temporalDims(c: Column): Seq[(String, Column)] = Seq(
    "nombre_mes" -> date_format(c, "MMMM"),
    "mes" -> month(c),
    "dia" -> dayofmonth(c),
    "anio" -> year(c))

  /** D7 — load stamp: the pinned `loadDate` (oracle determinism), else
    * the run date (cartera.py:179; pending_orders.py:167). */
  def loadStamp(loadDate: Option[String]): Column =
    loadDate.map(d => to_date(lit(d))).getOrElse(current_date())

  /** D9 — ES↔EN month translation (wor2.py:65-76). */
  val MonthEsToEn: Map[String, String] = Map(
    "Enero" -> "January", "Febrero" -> "February", "Marzo" -> "March",
    "Abril" -> "April", "Mayo" -> "May", "Junio" -> "June",
    "Julio" -> "July", "Agosto" -> "August", "Septiembre" -> "September",
    "Octubre" -> "October", "Noviembre" -> "November", "Diciembre" -> "December")

  val MonthEsToNum: Map[String, Int] = Map(
    "Enero" -> 1, "Febrero" -> 2, "Marzo" -> 3, "Abril" -> 4, "Mayo" -> 5,
    "Junio" -> 6, "Julio" -> 7, "Agosto" -> 8, "Septiembre" -> 9,
    "Octubre" -> 10, "Noviembre" -> 11, "Diciembre" -> 12)

  /** Static-map lookup as a foldable literal map (constant-folded by
    * Catalyst; no join, no shuffle). */
  def mapLookup[V: scala.reflect.runtime.universe.TypeTag](m: Map[String, V], key: Column): Column = {
    import org.apache.spark.sql.functions.typedlit
    element_at(typedlit(m), key)
  }

  def mapLookupWithDefault[V: scala.reflect.runtime.universe.TypeTag](m: Map[String, V], key: Column, default: V): Column =
    coalesce(mapLookup(m, key), lit(default))

  /** P8 — row-wise "any column contains 'Total'" predicate (wor2.py:269),
    * as a higher-order `exists` over the stringified columns. */
  def anyColumnContains(cols: Seq[Column], needle: String): Column =
    exists(array(cols.map(_.cast("string")): _*),
      x => coalesce(x.contains(needle), lit(false)))
}
