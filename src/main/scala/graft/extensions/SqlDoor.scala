package graft.extensions

import scala.util.control.NonFatal
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftPlanBridge.{columnOf, exprOf}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, NumericType, StringType}

/** One typed argument of a SQL door.
  *
  * `parse` reads the literal the caller passed; the door's name
  * prefixes every refusal. An argument with a `default` is optional,
  * and only optional arguments may follow it. Arguments parse in
  * `phase` order: literals (0), then tables (1), then the column
  * check, then index layouts (2) — cheap refusals fire before any
  * table or file is touched.
  *
  * A table argument must carry its fixed `needs` columns plus every
  * column a `columnsOf` argument names in it (`Some(Nil)` = the door's
  * first table); `hint` says what the table should be. */
final case class Arg[T](name: String, parse: (String, Expression) => T,
                        default: Option[T] = None, phase: Int = 0,
                        needs: Seq[String] = Nil, hint: String = "",
                        columnsOf: Option[Seq[String]] = None) {
  def or(d: T): Arg[T] = copy(default = Some(d))
  def optional: Arg[Option[T]] = Arg(name, (d, e) => Some(parse(d, e)), Some(None))
  def expecting(what: String): Arg[T] = copy(hint = what)
}

object Arg {
  private def string(door: String, name: String, e: Expression): String = e match {
    case Literal(s, _: StringType) if s != null => s.toString
    case other => Door.refuse(s"$door: $name must be a string literal, got $other")
  }

  /** Integral literal at long width, inside [lo, hi]; `top` is the
    * type's ceiling, which an unbounded range does not mention. */
  private def integral(door: String, name: String, e: Expression,
                       lo: Long, hi: Long, top: Long): Long = {
    val v = e match {
      case Literal(i: Int, IntegerType) => i.toLong
      case Literal(l: Long, LongType) => l
      case other => Door.refuse(s"$door: $name must be an integer literal, got $other")
    }
    if (v < lo || v > hi) Door.refuse(s"$door: $name must be " +
      (if (hi < top || v > hi) s"in [$lo, $hi]" else s">= $lo") + s", got $v")
    v
  }

  def expr(name: String): Arg[Expression] = Arg(name, (_, e) => e)
  def str(name: String): Arg[String] = Arg(name, string(_, name, _))
  /** A string naming a column of the `in` tables (default: the first). */
  def column(name: String, in: String*): Arg[String] =
    str(name).copy(columnsOf = Some(in))
  /** Comma-separated list, trimmed, empty items dropped. */
  def list(name: String): Arg[Seq[String]] = Arg(name, (d, e) =>
    string(d, name, e).split(',').toSeq.map(_.trim).filter(_.nonEmpty))
  def columns(name: String, in: String*): Arg[Seq[String]] =
    list(name).copy(columnsOf = Some(in))
  /** Whitespace-separated term list ('' = no terms). */
  def terms(name: String): Arg[Seq[String]] = Arg(name, (d, e) =>
    string(d, name, e).split("\\s+").toSeq.filter(_.nonEmpty))
  /** Comma-separated integer ppm probes ('250000,500000'): a TVF
    * argument list has no array-literal path. */
  def ppms(name: String): Arg[Seq[Long]] = Arg(name, (d, e) =>
    list(name).parse(d, e).map(t => t.toLongOption.getOrElse(Door.refuse(
      s"$d: $name must be comma-separated integers, got '$t'"))))
  def int(name: String, lo: Int = Int.MinValue): Arg[Int] =
    Arg(name, integral(_, name, _, lo, Int.MaxValue, Int.MaxValue).toInt)
  def long(name: String, lo: Long = Long.MinValue): Arg[Long] =
    Arg(name, integral(_, name, _, lo, Long.MaxValue, Long.MaxValue))
  /** A numeric-typed, finite literal: a string never passes. */
  def num(name: String): Arg[Double] = Arg(name, (door, e) => e match {
    case Literal(v, _: NumericType) if v != null &&
        java.lang.Double.isFinite(v.toString.toDouble) => v.toString.toDouble
    case other => Door.refuse(s"$door: $name must be a finite numeric literal, got $other")
  })
  def bool(name: String): Arg[Boolean] = Arg(name, (door, e) => e match {
    case Literal(b: Boolean, BooleanType) => b
    case other => Door.refuse(s"$door: $name must be a boolean literal, got $other")
  })
  /** A registered table, resolved through the active session (set for
    * the analysis thread by spark.sql). */
  def table(name: String, needs: String*): Arg[DataFrame] =
    Arg(name, (d, e) => SparkSession.active.table(string(d, name, e)),
      phase = 1, needs = needs,
      hint = if (needs.isEmpty) "" else needs.mkString("(", ", ", ")"))
  /** A persisted index directory, read part by part up front: a wrong
    * dir otherwise surfaces as a path-not-found deep inside the probe
    * plan. Yields the directory. */
  def index(name: String, layout: String,
            parts: (String, Seq[String])*): Arg[String] = Arg(name, (door, e) => {
    val dir = string(door, name, e)
    val expected = s" — expected a $layout layout"
    for ((part, needs) <- parts) {
      val cols = try SparkSession.active.read.parquet(s"$dir/$part").columns
      catch { case NonFatal(x) => throw new IllegalArgumentException(
        s"$door: cannot read $dir/$part$expected", x) }
      Door.requireColumns(door, s"$dir/$part", cols, needs, expected)
    }
    dir
  }, phase = 2)
}

/** One SQL door: its name, ordered typed arguments and a builder from
  * the parsed arguments to an `Expression` (scalar function) or a
  * `LogicalPlan` (table function). The arity check, the usage line
  * (in both the arity refusal and the `ExpressionInfo`), literal
  * parsing and the table/column checks live here, once. */
final case class Door[R](name: String, args: Seq[Arg[_]], build: Seq[Any] => R) {
  private val required = args.count(_.default.isEmpty)
  private val signature: String = (args.take(required).map(_.name).mkString(", ") +:
    args.drop(required).map(a => s"[, ${a.name}")).mkString +
    "]" * (args.size - required)
  private val usage: String = s"usage: $name($signature)"
  def info: ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "")

  def apply(children: Seq[Expression]): R = {
    val n = children.size
    if (n < required || n > args.size) {
      val count =
        if (required < args.size) s"$required to ${args.size} arguments"
        else if (required == 1) "exactly 1 argument"
        else s"exactly $required arguments"
      Door.refuse(s"$name expects ($signature): $count, got $n; $usage")
    }
    val values = new Array[Any](args.size)
    def fill(phase: Int): Unit = for ((a, i) <- args.zipWithIndex if a.phase == phase)
      values(i) = if (i < n) a.parse(name, children(i)) else a.default.get
    fill(0)
    fill(1)
    checkColumns(values.toSeq)
    fill(2)
    build(values.toSeq)
  }

  private def checkColumns(values: Seq[Any]): Unit = {
    val tables = args.indices.filter(i =>
      values(i).isInstanceOf[org.apache.spark.sql.Dataset[_]])
    for (t <- tables) {
      val named = args.indices.filter(j => args(j).columnsOf.exists(in =>
        in.contains(args(t).name) || in.isEmpty && t == tables.head))
        .flatMap(j => values(j) match {
          case c: String => Seq(c)
          case cs: Seq[_] => cs.map(_.toString)
        })
      Door.requireColumns(name, args(t).name,
        values(t).asInstanceOf[DataFrame].columns, args(t).needs ++ named,
        if (args(t).hint.isEmpty) "" else s" — expected ${args(t).hint}")
    }
  }
}

object Door {
  def refuse(msg: String): Nothing = throw new IllegalArgumentException(msg)

  def requireColumns(door: String, what: String, have: Array[String],
                     needs: Seq[String], expected: String): Unit = {
    val missing = needs.distinct.filterNot(have.contains)
    if (missing.nonEmpty) refuse(s"$door: $what lacks column" +
      (if (missing.size > 1) "s " else " ") +
      missing.map(c => s"'$c'").mkString(", ") + expected)
  }

  private def at[T](v: Seq[Any], i: Int): T = v(i).asInstanceOf[T]

  // scalar doors: raw expression arguments
  def fn(n: String, a: String)(f: Expression => Expression): Door[Expression] =
    Door(n, Seq(Arg.expr(a)), v => f(at(v, 0)))
  def fn(n: String, a: String, b: String)(
      f: (Expression, Expression) => Expression): Door[Expression] =
    Door(n, Seq(Arg.expr(a), Arg.expr(b)), v => f(at(v, 0), at(v, 1)))
  /** A scalar door bound to the Column chain the Scala surface builds
    * (GraftPlanBridge), so the two doors cannot drift. */
  def chain(n: String, a: String)(f: Column => Column): Door[Expression] =
    fn(n, a)(e => exprOf(f(columnOf(e))))
  def chain(n: String, a: String, b: String)(
      f: (Column, Column) => Column): Door[Expression] =
    fn(n, a, b)((x, y) => exprOf(f(columnOf(x), columnOf(y))))

  // table doors, one overload per arity
  type P = LogicalPlan
  def tvf[A](n: String, a: Arg[A])(f: A => P): Door[P] =
    Door(n, Seq(a), v => f(at(v, 0)))
  def tvf[A, B](n: String, a: Arg[A], b: Arg[B])(f: (A, B) => P): Door[P] =
    Door(n, Seq(a, b), v => f(at(v, 0), at(v, 1)))
  def tvf[A, B, C](n: String, a: Arg[A], b: Arg[B], c: Arg[C])(
      f: (A, B, C) => P): Door[P] =
    Door(n, Seq(a, b, c), v => f(at(v, 0), at(v, 1), at(v, 2)))
  def tvf[A, B, C, D](n: String, a: Arg[A], b: Arg[B], c: Arg[C], d: Arg[D])(
      f: (A, B, C, D) => P): Door[P] =
    Door(n, Seq(a, b, c, d), v => f(at(v, 0), at(v, 1), at(v, 2), at(v, 3)))
  def tvf[A, B, C, D, E](n: String, a: Arg[A], b: Arg[B], c: Arg[C],
      d: Arg[D], e: Arg[E])(f: (A, B, C, D, E) => P): Door[P] =
    Door(n, Seq(a, b, c, d, e),
      v => f(at(v, 0), at(v, 1), at(v, 2), at(v, 3), at(v, 4)))
  def tvf[A, B, C, D, E, F](n: String, a: Arg[A], b: Arg[B], c: Arg[C],
      d: Arg[D], e: Arg[E], g: Arg[F])(f: (A, B, C, D, E, F) => P): Door[P] =
    Door(n, Seq(a, b, c, d, e, g),
      v => f(at(v, 0), at(v, 1), at(v, 2), at(v, 3), at(v, 4), at(v, 5)))
  def tvf[A, B, C, D, E, F, G](n: String, a: Arg[A], b: Arg[B], c: Arg[C],
      d: Arg[D], e: Arg[E], g: Arg[F], h: Arg[G])(
      f: (A, B, C, D, E, F, G) => P): Door[P] =
    Door(n, Seq(a, b, c, d, e, g, h), v => f(at(v, 0), at(v, 1), at(v, 2),
      at(v, 3), at(v, 4), at(v, 5), at(v, 6)))
}
