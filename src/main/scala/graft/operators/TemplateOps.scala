package graft.operators

import graft.Mapper
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Mini-Jinja template engine + Jinja mappers.
  * Ref: /root/reference/src/smashed/mappers/promptsource.py:45-354.
  *
  * The supported subset (SURVEY §7.3 / M4): `{{ var }}` substitution with
  * dotted paths, Python-style index/slice accessors (`xs[0]`, `xs[-1]`,
  * `s[1:5]`, `xs[:3]`) and filters (length, lower, upper, trim,
  * capitalize, first, last, join("sep"), replace(a, b), default(d[,
  * falsy]), truncate(n[, killwords[, end[, leeway]]]), int, string,
  * title, wordcount, abs, round([prec]), min, max, sum, sort — the
  * promptsource-community set), `~` string concatenation, `in`/`not in`
  * membership tests, `{% for x in xs %}…{% endfor %}`,
  * `{% if cond %}…{% elif %}…{% else %}…{% endif %}` with comparisons
  * (`== != < <= > >=`) and truthiness, `{% set %}`, `{% macro
  * name(p, q=default) %}…{% endmacro %}` with call expressions
  * (`{{ name(x) }}`, closure + recursion semantics), the `range()`
  * builtin, `{% filter name %}…{% endfilter %}` blocks, arithmetic
  * (`+ - * / // %` with Python semantics and Jinja2 precedence: filters
  * bind tighter than math, math tighter than `~`), and the
  * reference's `|||` source/target split (promptsource.py:185-196).
  * Unsupported constructs raise at parse time (on the driver) with a
  * clear message.
  *
  * Templates parse ONCE on the driver into an AST; rows render inside
  * `mapPartitions` — the same boundary the tokenizer uses.
  */
object MiniJinja {

  sealed trait Node
  final case class Text(s: String) extends Node
  final case class Output(e: Expr) extends Node
  final case class For(v: String, seq: Expr, body: List[Node]) extends Node
  final case class If(branches: List[(Option[Expr], List[Node])]) extends Node
  /** `{% set name = expr %}` — binds for the remainder of the enclosing
    * block (Jinja2 block scoping: a set inside for/if doesn't leak out). */
  final case class SetVar(name: String, e: Expr) extends Node
  /** `{% macro name(p1, p2=default) %}…{% endmacro %}` — defines a
    * callable; Jinja2 semantics: the macro closes over its definition
    * scope, defaults evaluate at call time, and the name is visible to
    * its own body (recursion works, depth-guarded). */
  final case class MacroDef(
      name: String,
      params: List[(String, Option[Expr])],
      body: List[Node]
  ) extends Node
  /** `{% filter upper %}…{% endfilter %}` — render the body, then pipe
    * the rendered string through the named filter. */
  final case class FilterBlock(filter: String, args: List[Any], body: List[Node])
      extends Node
  /** `{% set name %}…{% endset %}` — Jinja2 block assignment: the body
    * renders to a STRING bound to `name` for the rest of the enclosing
    * block (same scoping as [[SetVar]]). */
  final case class SetBlock(name: String, body: List[Node]) extends Node

  /** A `name=value` keyword argument in a filter call
    * (`map(attribute='x')`, `sum(attribute='n')`). */
  final case class KwArg(name: String, value: Any)

  sealed trait Expr
  final case class Ref(path: List[String]) extends Expr
  final case class Lit(v: Any) extends Expr
  final case class Filtered(e: Expr, filter: String, args: List[Any]) extends Expr
  final case class Cmp(op: String, l: Expr, r: Expr) extends Expr
  /** `not expr` — Jinja2 boolean negation (binds tighter than and/or,
    * looser than comparisons: `not a == b` is `not (a == b)`). */
  final case class Not(e: Expr) extends Expr
  /** `x is defined` / `x is not none` / `x is equalto(y)` — the Jinja2
    * test syntax (promptsource templates guard optional fields with
    * it). Our variable model folds undefined and None together, so
    * `defined` means non-null. */
  final case class IsTest(e: Expr, test: String, args: List[Any],
      negated: Boolean) extends Expr
  /** `xs[2]` / `xs[-1]` — Python-style index (negative wraps). */
  final case class Index(e: Expr, i: Expr) extends Expr
  /** `xs[1:3]` / `s[:5]` — Python-style slice with clamping. */
  final case class Slice(e: Expr, from: Option[Expr], to: Option[Expr]) extends Expr
  /** `name(args…)` at expression head — a macro invocation, or the
    * `range(...)` builtin. (Method calls after a dot stay filters.) */
  final case class Call(name: String, args: List[Expr]) extends Expr
  /** Binary arithmetic `+ - * / // %` (Python semantics: `/` is true
    * division, `//` floors, ints stay ints elsewhere; `+` also
    * concatenates two strings or two lists, as in Jinja2). */
  final case class Arith(op: String, l: Expr, r: Expr) extends Expr

  /** Runtime value of a defined macro. `defEnv` is assigned AFTER the
    * macro is bound into its defining scope so self-reference (recursion)
    * resolves — the one place the otherwise-immutable env needs a knot. */
  final class MacroValue(
      val params: List[(String, Option[Expr])],
      val body: List[Node]
  ) extends Serializable {
    var defEnv: Map[String, Any] = Map.empty
  }

  final case class Template(nodes: List[Node]) extends Serializable {
    /** Variable names referenced at the top level (the reference infers
      * input fields the same way, promptsource.py:125-153). */
    def variables: Set[String] = {
      def exprVars(e: Expr): Set[String] = e match {
        case Ref(p)            => Set(p.head)
        case Filtered(e, _, _) => exprVars(e)
        case Cmp(_, l, r)      => exprVars(l) ++ exprVars(r)
        case Not(e)            => exprVars(e)
        case IsTest(e, _, _, _) => exprVars(e)
        case Index(e, i)       => exprVars(e) ++ exprVars(i)
        case Slice(e, f, t) =>
          exprVars(e) ++ f.toSet.flatMap(exprVars) ++ t.toSet.flatMap(exprVars)
        // the callee is a macro or builtin, never an input column — only
        // the arguments can reference data
        case Call(_, as)  => as.flatMap(exprVars).toSet
        case Arith(_, l, r) => exprVars(l) ++ exprVars(r)
        case _            => Set.empty
      }
      def walk(ns: List[Node], bound0: Set[String]): Set[String] = {
        var bound = bound0
        val out = scala.collection.mutable.Set.empty[String]
        ns.foreach {
          case Text(_)   => ()
          case Output(e) => out ++= (exprVars(e) -- bound)
          case For(v, seq, body) =>
            out ++= (exprVars(seq) -- bound)
            out ++= walk(body, bound + v)
          case If(bs) =>
            bs.foreach { case (c, b) =>
              out ++= (c.map(exprVars).getOrElse(Set.empty) -- bound)
              out ++= walk(b, bound)
            }
          case SetVar(n, e) =>
            out ++= (exprVars(e) -- bound)
            bound = bound + n // bound for the REST of this block
          case MacroDef(n, params, body) =>
            params.foreach { case (_, d) =>
              out ++= (d.map(exprVars).getOrElse(Set.empty) -- bound)
            }
            out ++= walk(body, bound ++ params.map(_._1) + n)
            bound = bound + n
          case FilterBlock(_, _, body) => out ++= walk(body, bound)
          case SetBlock(n, body) =>
            out ++= walk(body, bound)
            bound = bound + n // bound for the REST of this block
        }
        out.toSet
      }
      walk(nodes, Set.empty)
    }

    def render(vars: Map[String, Any]): String = {
      val sb = new StringBuilder
      renderInto(nodes, vars, sb)
      sb.result()
    }

    private def renderInto(
        ns: List[Node],
        vars: Map[String, Any],
        sb: StringBuilder
    ): Unit = {
      var env = vars // SetVar rebinds for the rest of this block only
      ns.foreach {
        case Text(s)   => sb.append(s)
        case Output(e) => sb.append(show(eval(e, env)))
        case SetVar(n, e) => env = env + (n -> eval(e, env))
        case MacroDef(n, params, body) =>
          val mv = new MacroValue(params, body)
          env = env + (n -> mv)
          mv.defEnv = env // after binding, so the macro can call itself
        case FilterBlock(f, args, body) =>
          val inner = new StringBuilder
          renderInto(body, env, inner)
          sb.append(show(eval(Filtered(Lit(inner.result()), f, args), env)))
        case SetBlock(n, body) =>
          val inner = new StringBuilder
          renderInto(body, env, inner)
          env = env + (n -> inner.result())
        case For(v, seqE, body) =>
          eval(seqE, env) match {
            case s: Seq[_] =>
              val n = s.size
              s.zipWithIndex.foreach { case (x, i) =>
                // Jinja2 `loop` variable: index (1-based), index0,
                // revindex, first, last, length
                val loopVar: Map[String, Any] = Map(
                  "index" -> (i + 1).toLong,
                  "index0" -> i.toLong,
                  "revindex" -> (n - i).toLong,
                  "revindex0" -> (n - i - 1).toLong,
                  "first" -> (i == 0),
                  "last" -> (i == n - 1),
                  "length" -> n.toLong
                )
                renderInto(body, env + (v -> x) + ("loop" -> loopVar), sb)
              }
            case null => ()
            case other =>
              throw new IllegalArgumentException(
                s"for-loop over non-sequence value: $other"
              )
          }
        case If(branches) =>
          branches
            .find { case (cond, _) => cond.forall(c => truthy(eval(c, env))) }
            .foreach { case (_, body) => renderInto(body, env, sb) }
      }
    }

    // guards runaway macro recursion (a Template instance is used by one
    // thread: parsed per-partition inside mapPartitions, or on the driver)
    @transient private var callDepth: Int = 0

    private def eval(e: Expr, vars: Map[String, Any]): Any = e match {
      case Lit(v) => v
      case Call(name, args) =>
        val argVals = args.map(eval(_, vars))
        (name, vars.get(name)) match {
          case (_, Some(m: MacroValue)) =>
            require(
              argVals.length <= m.params.length,
              s"Macro '$name' takes ${m.params.length} argument(s), got ${argVals.length}"
            )
            val bound = m.params.zipWithIndex.map { case ((p, dflt), idx) =>
              p -> (if (idx < argVals.length) argVals(idx)
                    else
                      dflt
                        .map(eval(_, m.defEnv))
                        .getOrElse(throw new IllegalArgumentException(
                          s"Macro '$name' missing argument '$p'")))
            }.toMap
            callDepth += 1
            try {
              require(callDepth <= 64, s"Macro recursion too deep in '$name'")
              val inner = new StringBuilder
              renderInto(m.body, m.defEnv ++ bound, inner)
              inner.result()
            } finally callDepth -= 1
          case ("range", None) =>
            // Jinja2 range() builtin (half-open, like Python)
            val ns = argVals.map(toNum(_).toLong)
            ns match {
              case Seq(stop)              => (0L until stop).toSeq
              case Seq(start, stop)       => (start until stop).toSeq
              case Seq(start, stop, step) =>
                require(step != 0L, "range() step must not be zero")
                (start until stop by step).toSeq
              case _ =>
                throw new IllegalArgumentException(
                  s"range() takes 1-3 arguments, got ${argVals.length}")
            }
          case _ =>
            throw new IllegalArgumentException(
              s"Unknown callable '$name(...)': not a defined macro or builtin")
        }
      case Arith(op, le, re) =>
        val l = eval(le, vars)
        val r = eval(re, vars)
        def integral(v: Any): Boolean = v match {
          case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
              _: java.lang.Byte => true
          case _ => false
        }
        (l, r) match {
          case (a: String, b: String) if op == "+" => a + b
          case (a: Seq[_], b: Seq[_]) if op == "+" => a ++ b
          case _ if integral(l) && integral(r) && op != "/" =>
            val (a, b) = (l.asInstanceOf[Number].longValue(),
              r.asInstanceOf[Number].longValue())
            op match {
              case "+"  => a + b
              case "-"  => a - b
              case "*"  => a * b
              case "//" => Math.floorDiv(a, b)
              case "%"  => Math.floorMod(a, b) // python % sign convention
            }
          case _ =>
            val (a, b) = (toNum(l), toNum(r))
            op match {
              case "+"  => a + b
              case "-"  => a - b
              case "*"  => a * b
              case "/"  => a / b // python3 true division
              case "//" => math.floor(a / b)
              case "%"  => a - b * math.floor(a / b)
            }
        }
      case Ref(path) =>
        var cur: Any = vars.getOrElse(path.head, null)
        path.tail.foreach { seg =>
          cur = cur match {
            case null => null
            case m: Map[_, _] =>
              m.asInstanceOf[Map[String, Any]].getOrElse(seg, null)
            case r: Row =>
              // normalize nested Spark arrays (mutable ArraySeq) to Seq so
              // downstream Index/Slice/filters match them
              try MiniJinja.toTemplateValue(r.getAs[Any](seg))
              catch { case _: Exception => null }
            case _ => null
          }
        }
        cur
      case Filtered(inner, f, args) =>
        val v = eval(inner, vars)
        (f, args) match {
          case ("length", _) =>
            v match {
              case s: Seq[_]  => s.size.toLong
              case s: String  => s.length.toLong
              case m: Map[_, _] => m.size.toLong
              case null       => 0L
              case other      => throw new IllegalArgumentException(s"length of $other")
            }
          case ("lower", _)      => String.valueOf(v).toLowerCase(java.util.Locale.ROOT)
          case ("upper", _)      => String.valueOf(v).toUpperCase(java.util.Locale.ROOT)
          case ("trim", _)       => String.valueOf(v).trim
          case ("capitalize", _) =>
            val s = String.valueOf(v)
            if (s.isEmpty) s else s"${s.head.toUpper}${s.tail.toLowerCase(java.util.Locale.ROOT)}"
          case ("first", _) => v match {
            case s: Seq[_] => s.headOption.orNull
            case s: String => if (s.isEmpty) "" else s.substring(0, 1)
            case other     => other
          }
          case ("last", _) => v match {
            case s: Seq[_] => s.lastOption.orNull
            case s: String => if (s.isEmpty) "" else s.substring(s.length - 1)
            case other     => other
          }
          case ("join", sep :: Nil) =>
            v match {
              case s: Seq[_] => s.map(show).mkString(String.valueOf(sep))
              case other     => show(other)
            }
          case ("replace", from :: to :: Nil) =>
            String.valueOf(v).replace(String.valueOf(from), String.valueOf(to))
          case ("default", d :: rest) =>
            // Jinja: default(d) replaces undefined/null; default(d, true)
            // also replaces falsy values (empty string, 0, empty list)
            val alsoFalsy = rest.headOption.contains(true)
            if (v == null || (alsoFalsy && !truthy(v))) d else v
          case ("truncate", (n: Long) :: rest) =>
            // truncate(length, killwords=false, end="...", leeway=5):
            // strings within `length + leeway` pass through; longer ones
            // cut to `length` minus the end marker, at a word boundary
            // unless killwords — Jinja2's exact contract
            val killwords = rest.headOption.contains(true)
            val end =
              rest.drop(1).headOption.map(String.valueOf(_)).getOrElse("...")
            val leeway = rest.drop(2).headOption
              .collect { case l: Long => l.toInt }.getOrElse(5)
            val s = String.valueOf(v)
            if (s.length <= n.toInt + leeway) s
            else {
              val budget = math.max(0, n.toInt - end.length)
              val cut = s.substring(0, budget)
              val trimmed =
                if (killwords) cut
                else {
                  val sp = cut.lastIndexOf(' ')
                  if (sp > 0) cut.substring(0, sp) else cut
                }
              trimmed + end
            }
          case ("int", _) =>
            // Jinja's int filter: unparseable input yields 0 (or the
            // provided default), never an error
            val dflt = args.headOption.collect { case n: Long => n }.getOrElse(0L)
            v match {
              case n: Number => n.longValue()
              case s: String =>
                val t = s.trim
                try t.toLong
                catch {
                  case _: NumberFormatException =>
                    try t.toDouble.toLong
                    catch { case _: NumberFormatException => dflt }
                }
              case b: Boolean => if (b) 1L else 0L
              case _          => dflt
            }
          case ("string", _) => show(v)
          case ("title", _) =>
            String.valueOf(v).split(" ", -1).map { w =>
              if (w.isEmpty) w
              else s"${w.head.toUpper}${w.tail.toLowerCase(java.util.Locale.ROOT)}"
            }.mkString(" ")
          case ("wordcount", _) =>
            "\\S+".r.findAllIn(String.valueOf(v)).size.toLong
          case ("abs", _) =>
            v match {
              case n: java.lang.Long    => math.abs(n.longValue())
              case n: java.lang.Integer => math.abs(n.longValue())
              case n: Number            => math.abs(n.doubleValue())
              case other => throw new IllegalArgumentException(s"abs of $other")
            }
          case ("round", rest) =>
            val prec = rest.headOption.collect { case n: Long => n.toInt }.getOrElse(0)
            val scale = math.pow(10, prec)
            math.rint(toNum(v) * scale) / scale
          case ("min" | "max" | "sum" | "sort", fargs) =>
            val raw = v match {
              case s: Seq[_] => s
              case other =>
                throw new IllegalArgumentException(s"$f over non-list: $other")
            }
            // sum(attribute='n') / min(attribute=...): fold the named
            // attribute of each item instead of the item itself
            val xs = fargs.collectFirst {
              case KwArg("attribute", a) =>
                raw.map(getAttr(_, String.valueOf(a))).filter(_ != null)
            }.getOrElse(raw)
            f match {
              case "sum" => xs.map(toNum).sum
              case "min" | "max" if xs.isEmpty => null
              case "min" | "max" =>
                val numeric = xs.forall(_.isInstanceOf[Number])
                if (numeric) {
                  val ns = xs.map(toNum)
                  if (f == "min") xs(ns.indexOf(ns.min)) else xs(ns.indexOf(ns.max))
                } else if (f == "min") xs.map(show).min
                else xs.map(show).max
              case "sort" =>
                if (xs.forall(_.isInstanceOf[Number]))
                  xs.sortBy(toNum)
                else xs.map(show).sorted
            }
          case ("split", rest) =>
            // Python str.split semantics: no arg = whitespace runs,
            // empties dropped; explicit separator = exact split, empties
            // kept
            val str = String.valueOf(v)
            rest.headOption match {
              case Some(sep) =>
                str.split(java.util.regex.Pattern.quote(String.valueOf(sep)), -1)
                  .toSeq
              case None =>
                str.trim.split("\\s+").toSeq.filter(_.nonEmpty)
            }
          case ("startswith", p :: Nil) =>
            String.valueOf(v).startsWith(String.valueOf(p))
          case ("endswith", p :: Nil) =>
            String.valueOf(v).endsWith(String.valueOf(p))
          // --- the map/select sequence-filter family (Jinja2 builtins
          // used by community promptsource templates) ----------------
          case ("list", _) => v match {
            case s: Seq[_] => s
            case s: String => s.map(String.valueOf(_)).toSeq
            case null      => Seq.empty
            case other     => Seq(other)
          }
          case ("unique", _) => asSeq(v).distinct
          case ("map", KwArg("attribute", a) :: rest) =>
            val mapped = asSeq(v).map(getAttr(_, String.valueOf(a)))
            rest.collectFirst { case KwArg("default", d) => d } match {
              case Some(d) => mapped.map(x => if (x == null) d else x)
              case None    => mapped
            }
          case ("map", (fname: String) :: fargs) =>
            asSeq(v).map(item =>
              eval(Filtered(Lit(item), fname, fargs), vars))
          case ("select", Nil) => asSeq(v).filter(truthy)
          case ("select", (test: String) :: targs) =>
            asSeq(v).filter(item => applyTest(item, test, targs))
          case ("reject", Nil) => asSeq(v).filterNot(truthy)
          case ("reject", (test: String) :: targs) =>
            asSeq(v).filterNot(item => applyTest(item, test, targs))
          case ("selectattr", (attr: String) :: rest) => rest match {
            case Nil => asSeq(v).filter(item => truthy(getAttr(item, attr)))
            case (test: String) :: targs =>
              asSeq(v).filter(item => applyTest(getAttr(item, attr), test, targs))
            case other => throw new IllegalArgumentException(
              s"Bad selectattr args: $other")
          }
          case ("rejectattr", (attr: String) :: rest) => rest match {
            case Nil => asSeq(v).filterNot(item => truthy(getAttr(item, attr)))
            case (test: String) :: targs =>
              asSeq(v).filterNot(item =>
                applyTest(getAttr(item, attr), test, targs))
            case other => throw new IllegalArgumentException(
              s"Bad rejectattr args: $other")
          }
          case _ =>
            throw new IllegalArgumentException(s"Unsupported filter: $f($args)")
        }
      case Index(inner, ie) =>
        val v = eval(inner, vars)
        val key = eval(ie, vars)
        v match {
          case m: Map[_, _] => // Jinja getitem on a dict: m['key']
            m.asInstanceOf[Map[String, Any]].getOrElse(show(key), null)
          case s: Seq[_] =>
            val idx = toNum(key).toInt
            val n = s.size
            val k = if (idx < 0) idx + n else idx
            if (k >= 0 && k < n) s(k) else null
          case s: String =>
            val idx = toNum(key).toInt
            val n = s.length
            val k = if (idx < 0) idx + n else idx
            if (k >= 0 && k < n) s.substring(k, k + 1) else null
          case null  => null
          case other => throw new IllegalArgumentException(s"cannot index $other")
        }
      case Slice(inner, fromE, toE) =>
        val v = eval(inner, vars)
        def bounds(n: Int): (Int, Int) = {
          def resolve(eo: Option[Expr], dflt: Int): Int =
            eo.map { e =>
              val i = toNum(eval(e, vars)).toInt
              val k = if (i < 0) i + n else i
              math.max(0, math.min(n, k))
            }.getOrElse(dflt)
          (resolve(fromE, 0), resolve(toE, n))
        }
        v match {
          case s: Seq[_] =>
            val (a, b) = bounds(s.size)
            if (a < b) s.slice(a, b) else Seq.empty
          case s: String =>
            val (a, b) = bounds(s.length)
            if (a < b) s.substring(a, b) else ""
          case null  => null
          case other => throw new IllegalArgumentException(s"cannot slice $other")
        }
      case Not(inner) => !truthy(eval(inner, vars))
      case IsTest(inner, test, args, negated) =>
        val r = applyTest(eval(inner, vars), test, args)
        if (negated) !r else r
      case Cmp(op, le, re) =>
        val l = eval(le, vars)
        val r = eval(re, vars)
        def member: Boolean = r match {
          case s: Seq[_]    => s.exists(x => x == l || show(x) == show(l))
          case s: String    => s.contains(show(l))
          case m: Map[_, _] => m.asInstanceOf[Map[String, Any]].contains(show(l))
          case null         => false
          case other =>
            throw new IllegalArgumentException(s"'in' over non-container: $other")
        }
        op match {
          case "~"      => show(l) + show(r)
          case "and"    => truthy(l) && truthy(r)
          case "or"     => truthy(l) || truthy(r)
          case "in"     => member
          case "not in" => !member
          case "=="     => l == r || show(l) == show(r)
          case "!="     => !(l == r || show(l) == show(r))
          case _ =>
            val (ln, rn) = (toNum(l), toNum(r))
            op match {
              case "<"  => ln < rn
              case "<=" => ln <= rn
              case ">"  => ln > rn
              case ">=" => ln >= rn
            }
        }
    }

    private def toNum(v: Any): Double = v match {
      case n: Number => n.doubleValue()
      case s: String => s.toDouble
      case other     => throw new IllegalArgumentException(s"not a number: $other")
    }

    private def truthy(v: Any): Boolean = v match {
      case null       => false
      case b: Boolean => b
      case n: Number  => n.doubleValue() != 0
      case s: String  => s.nonEmpty
      case s: Seq[_]  => s.nonEmpty
      case _          => true
    }

    private def asSeq(v: Any): Seq[Any] = v match {
      case s: Seq[_] => s
      case null      => Seq.empty
      case s: String => s.map(String.valueOf(_)).toSeq
      case other =>
        throw new IllegalArgumentException(s"not a sequence: $other")
    }

    /** item attribute lookup for map/selectattr (Map / Row / null). */
    private def getAttr(item: Any, name: String): Any = item match {
      case null => null
      case m: Map[_, _] =>
        m.asInstanceOf[Map[String, Any]].getOrElse(name, null)
      case r: Row =>
        try MiniJinja.toTemplateValue(r.getAs[Any](name))
        catch { case _: Exception => null }
      case _ => null
    }

    /** The Jinja2 test subset select/reject accept: equalto/eq/==,
      * ne/!=, plus the argless defined/none/odd/even handled by the
      * zero-arg dispatch. Numbers compare numerically (3 == 3.0). */
    private def applyTest(item: Any, test: String, args: List[Any]): Boolean =
      (test, args) match {
        case ("equalto" | "eq" | "==", x :: Nil) => (item, x) match {
          case (a: Number, b: Number) => a.doubleValue() == b.doubleValue()
          case (a, b)                 => a == b
        }
        case ("ne" | "!=", x :: Nil) => !applyTest(item, "equalto", List(x))
        case ("defined", Nil) => item != null
        case ("undefined", Nil) => item == null
        case ("none", Nil)    => item == null
        case ("odd", Nil)     => Math.floorMod(toNum(item).toLong, 2L) == 1L
        case ("even", Nil)    => Math.floorMod(toNum(item).toLong, 2L) == 0L
        case ("string", Nil)  => item.isInstanceOf[String]
        case ("number", Nil)  => item.isInstanceOf[Number]
        case ("boolean", Nil) => item.isInstanceOf[Boolean]
        case ("iterable" | "sequence", Nil) => item match {
          case _: Seq[_] | _: String => true
          case _ => false
        }
        case ("mapping", Nil) => item.isInstanceOf[Map[_, _]]
        case ("true", Nil)    => item == true
        case ("false", Nil)   => item == false
        case ("divisibleby", (n: Long) :: Nil) =>
          Math.floorMod(toNum(item).toLong, n) == 0L
        case other =>
          throw new IllegalArgumentException(s"Unsupported test: $other")
      }

    private def show(v: Any): String = v match {
      case null       => ""
      case b: Boolean => if (b) "True" else "False" // python/Jinja2 repr
      case d: Double => if (d == d.floor && !d.isInfinite) d.toLong.toString else d.toString
      case f: Float  => show(f.toDouble)
      case s: Seq[_] => s.map(show).mkString("[", ", ", "]")
      case other     => String.valueOf(other)
    }
  }

  /** Parse; throws IllegalArgumentException on unsupported constructs. */
  def parse(template: String): Template = parse(template, Map.empty)

  /** Parse with an INCLUDE REGISTRY: `{% include "name" %}` inlines the
    * named template's parsed nodes at the include site (resolved from
    * `includes`, never the filesystem — the template-library use case;
    * [[PromptsourceMapper]] feeds the [[TemplateRegistry]] through).
    * Cycles reject at parse time. Documented divergence from Jinja2:
    * inlining means a `{% set %}` inside the included template is
    * visible AFTER the include site (Jinja2 scopes the include); none
    * of the promptsource-style display fragments this exists for set
    * variables. `{% extends %}` stays rejected. */
  def parse(template: String, includes: Map[String, String]): Template =
    parseInternal(template, includes, Nil)

  private def parseInternal(template: String,
      includes: Map[String, String], stack: List[String]): Template = {
    val tokenPat = "\\{\\{.*?\\}\\}|\\{%.*?%\\}".r
    var pos = 0
    // (kind, body, trimBefore, trimAfter) — Jinja2 whitespace control:
    // `{%- / {{-` strips trailing whitespace from the preceding text,
    // `-%} / -}}` strips leading whitespace from the following text
    val raw = scala.collection.mutable.ListBuffer.empty[(String, String, Boolean, Boolean)]
    tokenPat.findAllMatchIn(template).foreach { m =>
      if (m.start > pos)
        raw += (("text", template.substring(pos, m.start), false, false))
      val t = m.matched
      var inner = t.drop(2).dropRight(2)
      val trimBefore = inner.startsWith("-")
      if (trimBefore) inner = inner.drop(1)
      val trimAfter = inner.endsWith("-")
      if (trimAfter) inner = inner.dropRight(1)
      val kind = if (t.startsWith("{{")) "output" else "tag"
      raw += ((kind, inner.trim, trimBefore, trimAfter))
      pos = m.end
    }
    if (pos < template.length)
      raw += (("text", template.substring(pos), false, false))
    val arr = raw.toArray
    arr.indices.foreach { j =>
      val (k, _, tb, ta) = arr(j)
      if (k != "text") {
        if (tb && j > 0 && arr(j - 1)._1 == "text") {
          val p = arr(j - 1)
          arr(j - 1) = (p._1, p._2.replaceAll("\\s+$", ""), p._3, p._4)
        }
        if (ta && j + 1 < arr.length && arr(j + 1)._1 == "text") {
          val nx = arr(j + 1)
          arr(j + 1) = (nx._1, nx._2.replaceAll("^\\s+", ""), nx._3, nx._4)
        }
      }
    }
    val toks = arr.toList.map(t => (t._1, t._2))
    var i = 0
    def parseNodes(stopTags: Set[String]): (List[Node], Option[String]) = {
      val out = scala.collection.mutable.ListBuffer.empty[Node]
      while (i < toks.length) {
        val (kind, body) = toks(i)
        kind match {
          case "text"   => out += Text(body); i += 1
          case "output" => out += Output(parseExpr(body)); i += 1
          case "tag" =>
            val tag = body.split("\\s+").head
            if (stopTags.contains(tag)) return (out.toList, Some(body))
            tag match {
              case "for" =>
                val m = "^for\\s+(\\w+)\\s+in\\s+(.+)$".r
                  .findFirstMatchIn(body)
                  .getOrElse(throw new IllegalArgumentException(s"Bad for: $body"))
                i += 1
                val (inner, _) = parseNodes(Set("endfor"))
                i += 1 // consume endfor
                out += For(m.group(1), parseExpr(m.group(2)), inner)
              case "if" =>
                val branches =
                  scala.collection.mutable.ListBuffer.empty[(Option[Expr], List[Node])]
                var cond: Option[Expr] = Some(parseExpr(body.drop(2).trim))
                i += 1
                var done = false
                while (!done) {
                  val (inner, stop) = parseNodes(Set("elif", "else", "endif"))
                  branches += ((cond, inner))
                  stop match {
                    case Some(s) if s.startsWith("elif") =>
                      cond = Some(parseExpr(s.drop(4).trim)); i += 1
                    case Some("else") => cond = None; i += 1
                    case Some("endif") => i += 1; done = true
                    case other =>
                      throw new IllegalArgumentException(s"Unclosed if: $other")
                  }
                }
                out += If(branches.toList)
              case "set" =>
                "^set\\s+(\\w+)\\s*=\\s*(.+)$".r.findFirstMatchIn(body) match {
                  case Some(m) =>
                    out += SetVar(m.group(1), parseExpr(m.group(2)))
                    i += 1
                  case None =>
                    // block form: {% set name %}body{% endset %}
                    val mb = "^set\\s+(\\w+)$".r.findFirstMatchIn(body)
                      .getOrElse(throw new IllegalArgumentException(
                        s"Bad set: $body"))
                    i += 1
                    val (inner, stop) = parseNodes(Set("endset"))
                    require(stop.contains("endset"),
                      s"Unclosed set block: $body")
                    i += 1
                    out += SetBlock(mb.group(1), inner)
                }
              case "macro" =>
                val m = "^macro\\s+(\\w+)\\s*\\((.*)\\)$".r
                  .findFirstMatchIn(body)
                  .getOrElse(
                    throw new IllegalArgumentException(s"Bad macro: $body"))
                val params = splitTop(m.group(2), ',').map(_.trim)
                  .filter(_.nonEmpty).map { p =>
                    findTop(p, "=") match {
                      case Some(eq) =>
                        val name = p.substring(0, eq).trim
                        require(name.matches("\\w+"), s"Bad macro param: $p")
                        (name, Some(parseExpr(p.substring(eq + 1).trim)))
                      case None =>
                        require(p.matches("\\w+"), s"Bad macro param: $p")
                        (p, None)
                    }
                  }
                i += 1
                val (inner, stop) = parseNodes(Set("endmacro"))
                require(stop.contains("endmacro"), s"Unclosed macro: $body")
                i += 1 // consume endmacro
                out += MacroDef(m.group(1), params.toList, inner)
              case "filter" =>
                val (name, raw) = callSpec(body.drop(6).trim).getOrElse(
                  throw new IllegalArgumentException(s"Bad filter block: $body"))
                val args = callArgs(raw)(literal)
                i += 1
                val (inner, stop) = parseNodes(Set("endfilter"))
                require(stop.contains("endfilter"), s"Unclosed filter: $body")
                i += 1 // consume endfilter
                out += FilterBlock(name, args, inner)
              case "include" =>
                val m = "^include\\s+(?:\"([^\"]*)\"|'([^']*)')$".r
                  .findFirstMatchIn(body)
                  .getOrElse(throw new IllegalArgumentException(
                    s"Bad include (need a quoted literal name): $body"))
                val name = Option(m.group(1)).getOrElse(m.group(2))
                val src = includes.getOrElse(name,
                  throw new IllegalArgumentException(
                    s"Unknown include '$name' " +
                      (if (includes.isEmpty)
                        "(no include registry: pass includeTemplates / " +
                          "use PromptsourceMapper with a TemplateRegistry)"
                       else s"(registered: ${includes.keys.toSeq.sorted
                         .mkString(", ")})")))
                require(!stack.contains(name),
                  s"Include cycle: ${(name :: stack).reverse.mkString(" -> ")}")
                out ++= parseInternal(src, includes, name :: stack).nodes
                i += 1
              case other =>
                throw new IllegalArgumentException(
                  s"Unsupported Jinja construct '{% $other %}'. Supported: " +
                    "{{ var }}, {% for %}, {% if/elif/else %}, {% set %}, " +
                    "{% macro %}, {% filter %}, {% include \"name\" %}"
                )
            }
        }
      }
      (out.toList, None)
    }
    val (nodes, _) = parseNodes(Set.empty)
    Template(nodes)
  }

  private def parseExpr(s: String): Expr = parseOr(s.trim)

  // Jinja2 boolean precedence: or < and < not < comparison < ~ < |filter
  private def parseOr(s: String): Expr =
    findTop(s, " or ") match {
      case Some(i) =>
        Cmp("or", parseAnd(s.substring(0, i).trim),
          parseOr(s.substring(i + 4).trim))
      case None => parseAnd(s)
    }

  private def parseAnd(s: String): Expr =
    findTop(s, " and ") match {
      case Some(i) =>
        Cmp("and", parseNot(s.substring(0, i).trim),
          parseAnd(s.substring(i + 5).trim))
      case None => parseNot(s)
    }

  private def parseNot(s: String): Expr =
    if (s.startsWith("not ")) Not(parseNot(s.drop(4).trim))
    else parseCmp(s)

  private val cmpOps = Seq("==", "!=", "<=", ">=", "<", ">")

  private def parseCmp(s: String): Expr = {
    // `is [not] <test>[(args)]` — same precedence tier as comparisons
    def parseIs(i: Int, kwLen: Int, negated: Boolean): Expr = {
      val lhs = parseConcat(s.substring(0, i).trim)
      val (test, raw) = callSpec(s.substring(i + kwLen).trim)
        .getOrElse(throw new IllegalArgumentException(s"Bad is-test: $s"))
      IsTest(lhs, test, callArgs(raw)(literal), negated)
    }
    findTop(s, " is not ") match {
      case Some(i) => return parseIs(i, 8, negated = true)
      case None    => ()
    }
    findTop(s, " is ") match {
      case Some(i) => return parseIs(i, 4, negated = false)
      case None    => ()
    }
    // comparison/membership binds LOOSEST (Jinja2 precedence: `a ~ b == c`
    // is `(a ~ b) == c`), so split it first; `~` folds inside each operand
    findTop(s, " not in ") match {
      case Some(i) =>
        return Cmp("not in",
          parseConcat(s.substring(0, i).trim),
          parseConcat(s.substring(i + 8).trim))
      case None => ()
    }
    findTop(s, " in ") match {
      case Some(i) =>
        return Cmp("in",
          parseConcat(s.substring(0, i).trim),
          parseConcat(s.substring(i + 4).trim))
      case None => ()
    }
    findTopOf(s.trim, cmpOps) match {
      case Some((i, op)) =>
        Cmp(op,
          parseConcat(s.trim.substring(0, i).trim),
          parseConcat(s.trim.substring(i + op.length).trim))
      case None => parseConcat(s.trim)
    }
  }

  private def parseConcat(s: String): Expr = {
    // `~` (Jinja string concat) folds left; tighter than comparisons,
    // looser than arithmetic and |filters
    val parts = splitTop(s.trim, '~').map(_.trim).filter(_.nonEmpty)
    if (parts.length > 1) parts.map(parseAddSub).reduceLeft(Cmp("~", _, _))
    else parseAddSub(s.trim)
  }

  // Jinja2 arithmetic precedence: ~  <  (+ -)  <  (* / // %)  <  unary-
  // <  |filter — so `words | length - 1` is `(words|length) - 1`.
  private def parseAddSub(s: String): Expr =
    findLastArith(s.trim, Seq("+", "-")) match {
      case Some((i, op)) =>
        Arith(op, parseAddSub(s.trim.substring(0, i).trim),
          parseMulDiv(s.trim.substring(i + op.length).trim))
      case None => parseMulDiv(s.trim)
    }

  private def parseMulDiv(s: String): Expr =
    findLastArith(s.trim, Seq("//", "*", "/", "%")) match {
      case Some((i, op)) =>
        Arith(op, parseMulDiv(s.trim.substring(0, i).trim),
          parseUnary(s.trim.substring(i + op.length).trim))
      case None => parseUnary(s.trim)
    }

  private def parseUnary(s: String): Expr =
    if (s.startsWith("-")) Arith("-", Lit(0L), parseUnary(s.drop(1).trim))
    else parseFiltered(s)

  /** Top-level mask of `s`: `top(i)` is true when `s(i)` is outside
    * quotes at bracket depth 0. Depth counts `(` and `[` together (either
    * closer pops it); a quote opens at `"` or `'` and closes at the next
    * copy of the same char, with no escapes. A bracket reports the outer
    * depth: an opener the depth before it, a closer the depth after it. */
  private def topLevel(s: String): Array[Boolean] = {
    val top = new Array[Boolean](s.length)
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '"' || c == '\'') quote = c
      else if (c == '(' || c == '[') { top(i) = depth == 0; depth += 1 }
      else if (c == ')' || c == ']') { depth -= 1; top(i) = depth == 0 }
      else top(i) = depth == 0
      i += 1
    }
    top
  }

  /** first top-level position where one of `ops` starts (the earlier op
    * wins at a position), with that op, or None. */
  private def findTopOf(s: String, ops: Seq[String]): Option[(Int, String)] = {
    val top = topLevel(s)
    s.indices.iterator.filter(top(_))
      .flatMap(i => ops.find(s.startsWith(_, i)).map(i -> _)).nextOption()
  }

  /** index of the first top-level `t`, or None. */
  private def findTop(s: String, t: String): Option[Int] =
    findTopOf(s, Seq(t)).map(_._1)

  /** LAST top-level binary occurrence of any of `ops` (left
    * associativity). An operator char is binary only when the preceding
    * non-space char terminates an operand — so unary minus (`-1`,
    * `(-n)`, `2 * -3`) is never split here. */
  private def findLastArith(s: String, ops: Seq[String]): Option[(Int, String)] = {
    val byLen = ops.sortBy(-_.length)
    val top = topLevel(s)
    var best: Option[(Int, String)] = None
    var i = 0
    while (i < s.length) {
      if (top(i)) byLen.find(s.startsWith(_, i)).foreach { op =>
        val j = s.lastIndexWhere(_ != ' ', i - 1)
        val binary = j >= 0 && {
          val p = s.charAt(j)
          p.isLetterOrDigit || p == '_' || p == ')' || p == ']' ||
            p == '"' || p == '\''
        }
        if (binary) best = Some((i, op))
        i += op.length - 1 // don't re-scan inside a matched '//'
      }
      i += 1
    }
    best
  }

  /** split on `sep` at top level. */
  private def splitTop(s: String, sep: Char): Seq[String] = {
    val top = topLevel(s)
    val cuts = s.indices.filter(i => top(i) && s.charAt(i) == sep)
    (-1 +: cuts).zip(cuts :+ s.length).map { case (a, b) => s.substring(a + 1, b) }
  }

  /** `name` or `name(args)`: a filter, `is` test, method or call spec. */
  private val callRe = "^(\\w+)(?:\\((.*)\\))?$".r
  private val kwArgRe = "^(\\w+)\\s*=(?!=)\\s*(.+)$".r

  /** `spec` read as `name` or `name(args)`: the name and the text between
    * the parens, if there are parens; None when `spec` is neither. */
  private def callSpec(spec: String): Option[(String, Option[String])] =
    callRe.findFirstMatchIn(spec).map(m => (m.group(1), Option(m.group(2))))

  /** the comma-separated arguments of a [[callSpec]], each trimmed and
    * read by `arg`; empty or absent arguments are none. */
  private def callArgs[A](raw: Option[String])(arg: String => A): List[A] =
    raw.filter(_.nonEmpty)
      .map(a => splitTop(a, ',').map(x => arg(x.trim)).toList)
      .getOrElse(Nil)

  private def parseFiltered(s: String): Expr = {
    val parts = splitTop(s, '|').map(_.trim)
    val base = parseAtom(parts.head)
    parts.tail.foldLeft(base) { (acc, f) =>
      val (name, raw) = callSpec(f)
        .getOrElse(throw new IllegalArgumentException(s"Bad filter: $f"))
      Filtered(acc, name, callArgs(raw) { t =>
        kwArgRe.findFirstMatchIn(t) match {
          case Some(kw) => KwArg(kw.group(1), literal(kw.group(2).trim))
          case None => literal(t)
        }
      })
    }
  }

  private def parseAtom(s: String): Expr =
    // split off trailing [idx] / [a:b] accessor groups (bracket binds
    // tighter than |filter, looser than the dotted path)
    findTop(s, "[") match {
      case None => parseBase(s)
      case Some(open) =>
        var e = parseBase(s.substring(0, open).trim)
        var rest = s.substring(open)
        while (rest.startsWith("[")) {
          // the top-level `]` of `[…]` is its match (`xs[ys[0]]`, `m[']']`)
          val close = findTop(rest, "]").getOrElse(-1)
          require(close > 0, s"Unclosed '[' in: $s")
          val body = rest.substring(1, close).trim
          val parts = splitTop(body, ':').map(_.trim)
          e =
            if (parts.length == 1) Index(e, parseIndexExpr(parts.head))
            else if (parts.length == 2)
              Slice(
                e,
                Option(parts(0)).filter(_.nonEmpty).map(parseIndexExpr),
                Option(parts(1)).filter(_.nonEmpty).map(parseIndexExpr)
              )
            else throw new IllegalArgumentException(s"Bad slice: [$body]")
          rest = rest.substring(close + 1).trim
        }
        require(rest.isEmpty, s"Trailing content after accessor in: $s")
        e
    }

  private def parseIndexExpr(s: String): Expr =
    if (s.matches("-?\\d+")) Lit(s.toLong) else parseExpr(s)

  /** Python string-method names promptsource templates call inline
    * (`{{ ctx_a.lower() }}`, `{{ text.split("|") }}`) → the equivalent
    * filter. Everything else after a '.(' rejects with a clear error. */
  private val methodFilters = Map(
    "lower" -> "lower", "upper" -> "upper", "title" -> "title",
    "capitalize" -> "capitalize", "strip" -> "trim",
    "replace" -> "replace", "split" -> "split",
    "startswith" -> "startswith", "endswith" -> "endswith")

  private def parseBase(s: String): Expr =
    if (s.startsWith("\"") || s.startsWith("'") || s.head.isDigit ||
      (s.length > 1 && s.head == '-' && s.charAt(1).isDigit) ||
      s == "true" || s == "false")
      Lit(literal(s))
    else {
      // dotted path split at top level, so `x.replace('.', ',')` keeps
      // its argument dots
      val segs = splitTop(s, '.')
      // leading run of plain attribute segments forms the Ref path;
      // trailing `name(args)` segments chain as method-call filters
      // (method and macro calls read a blank `( )` as no arguments)
      val calls = segs.map(seg =>
        callSpec(seg).collect { case (n, Some(a)) => (n, Some(a.trim)) })
      val firstCall = calls.indexWhere(_.isDefined)
      if (firstCall < 0) Ref(segs.toList)
      else if (firstCall == 0) {
        // `name(args…)` at the head: macro invocation or builtin like
        // range(). Args are full expressions (unlike filter args, which
        // Jinja2 also restricts less — but literals cover the pack).
        require(segs.length == 1,
          s"Attribute access after a call is unsupported: $s")
        val (name, raw) = calls.head.get
        Call(name, callArgs(raw)(parseExpr))
      } else {
        val base: Expr = Ref(segs.take(firstCall).toList)
        calls.drop(firstCall).foldLeft(base) { (acc, call) =>
          val (name, raw) = call.getOrElse(
            throw new IllegalArgumentException(
              s"Attribute access after a method call is unsupported: $s"))
          val filter = methodFilters.getOrElse(name,
            throw new IllegalArgumentException(
              s"Unsupported method call '.$name()'. Supported: " +
                methodFilters.keys.toSeq.sorted.mkString(", ")))
          Filtered(acc, filter, callArgs(raw)(literal))
        }
      }
    }

  private def literal(s: String): Any =
    if (s.startsWith("\"") && s.endsWith("\"")) s.drop(1).dropRight(1)
    else if (s.startsWith("'") && s.endsWith("'")) s.drop(1).dropRight(1)
    else if (s == "true") true
    else if (s == "false") false
    else if (s.contains('.')) s.toDouble
    else s.toLong

  /** Spark value → template value (Rows stay Rows; WrappedArray → Seq). */
  private[operators] def toTemplateValue(v: Any): Any = v match {
    case s: scala.collection.Seq[_] => s.map(toTemplateValue).toSeq
    case other                      => other
  }
}

/** Render a Jinja template per row; `|||` splits source vs target(s).
  * Ref: promptsource.py:313-354. */
final case class JinjaMapper(
    jinja: String,
    sourceFieldName: String = "source",
    targetFieldName: String = "target",
    returnMultipleTargets: Boolean = false,
    extraVariables: Map[String, Any] = Map.empty,
    answerChoicesJinja: Option[String] = None,
    /** `{% include "name" %}` sources (template-library fragments);
      * resolved at parse time, never from the filesystem. */
    includeTemplates: Map[String, String] = Map.empty
) extends Mapper {
  // parse eagerly on the driver so bad templates fail at pipeline build
  MiniJinja.parse(jinja, includeTemplates)
  answerChoicesJinja.foreach(MiniJinja.parse(_, includeTemplates))

  override def inputFields: Seq[String] = Nil // inferred from template
  override def outputFields: Seq[String] =
    Seq(sourceFieldName, targetFieldName)

  override protected def build(df: DataFrame): DataFrame = {
    val template = jinja
    val extra = extraVariables
    val multi = returnMultipleTargets
    val choicesTpl = answerChoicesJinja
    val cols = df.columns
    // overwrite-in-output semantics (reference merges transform output
    // over the sample): input columns colliding with source/target are
    // replaced, not duplicated
    val keptIdx = cols.indices
      .filter(i => cols(i) != sourceFieldName && cols(i) != targetFieldName)
    val targetType =
      if (multi) ArrayType(StringType) else StringType
    val outSchema = StructType(
      keptIdx.map(i => df.schema.fields(i)) ++ Seq(
        StructField(sourceFieldName, StringType),
        StructField(targetFieldName, targetType)
      )
    )
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val incs = includeTemplates
    df.mapPartitions { it =>
      val tpl = MiniJinja.parse(template, incs) // once per partition
      val ctpl = choicesTpl.map(MiniJinja.parse(_, incs))
      it.map { row =>
        val base = cols.zipWithIndex.map { case (c, i) =>
          c -> MiniJinja.toTemplateValue(row.get(i))
        }.toMap ++ extra
        // promptsource answer_choices convention: a per-example Jinja
        // string split on '|||' becomes the `answer_choices` list the
        // template indexes with the label ({{ answer_choices[label] }})
        val vars = ctpl match {
          case Some(t) =>
            val choices = t.render(base).split("\\|\\|\\|").map(_.trim).toSeq
            base + ("answer_choices" -> choices)
          case None => base
        }
        val rendered = tpl.render(vars)
        val parts = rendered.split("\\|\\|\\|").map(_.trim)
        val source = parts.head
        val targets = parts.tail.toSeq
        val targetVal: Any =
          if (multi) targets
          else targets.headOption.getOrElse("")
        Row.fromSeq(keptIdx.map(row.get) ++ Seq(source, targetVal))
      }
    }(enc)
  }
}

/** Few-shot prompting: group `numShots`+1 consecutive rows; the first
  * `numShots` become `__shots__` context, the last is the query row.
  * Ref: promptsource.py:357-470. Batching follows FixedBatchSize's
  * scalable semantics (partition-local by default, `orderBy` for a
  * deterministic global order — SURVEY §7.3). */
final case class FewShotJinjaMapper(
    jinja: String,
    numShots: Int,
    sourceFieldName: String = "source",
    targetFieldName: String = "target",
    keepLast: Boolean = false,
    orderBy: Seq[String] = Nil
) extends Mapper {
  require(numShots >= 0, "numShots must be >= 0")
  MiniJinja.parse(jinja)

  override def outputFields: Seq[String] = Seq(sourceFieldName, targetFieldName)

  override protected def build(df: DataFrame): DataFrame = {
    val groupSize = numShots + 1
    val batched = FixedBatchSize(groupSize, keepLast = keepLast, orderBy = orderBy)(df)
    // batched: every column is now an array; shots = rows 0..n-2, query = last
    val template = jinja
    val cols = df.columns
    val keptIdx = cols.indices
      .filter(i => cols(i) != sourceFieldName && cols(i) != targetFieldName)
    val outSchema = StructType(
      keptIdx.map(i => df.schema.fields(i)) ++ Seq(
        StructField(sourceFieldName, StringType),
        StructField(targetFieldName, StringType)
      )
    )
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    batched.mapPartitions { it =>
      val tpl = MiniJinja.parse(template)
      it.map { row =>
        val colsVals: Map[String, Seq[Any]] = cols.zipWithIndex.map {
          case (c, i) =>
            c -> row.getSeq[Any](i).map(MiniJinja.toTemplateValue)
        }.toMap
        val n = colsVals.head._2.size
        val shots: Seq[Map[String, Any]] =
          (0 until n - 1).map(k => cols.map(c => c -> colsVals(c)(k)).toMap)
        val queryVars = cols.map(c => c -> colsVals(c)(n - 1)).toMap
        val vars = queryVars + ("__shots__" -> shots)
        val parts = tpl.render(vars).split("\\|\\|\\|").map(_.trim)
        Row.fromSeq(
          keptIdx.map(i => colsVals(cols(i))(n - 1)) ++
            Seq(parts.head, parts.drop(1).headOption.getOrElse(""))
        )
      }
    }(enc)
  }
}
