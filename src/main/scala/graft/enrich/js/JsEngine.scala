package graft.enrich.js

import MiniJs._

import scala.collection.mutable

/** The evaluator + sandbox for [[MiniJs]] programs.
  *
  * Mirrors the reference engine contract (JSCodeCompiler.java:44-120):
  * top-level code is evaluated once (function declarations + vars), then
  * named functions are invoked Invocable-style. The bindings the
  * reference removes are poisoned here so user code fails the same way,
  * a step budget bounds runaway loops, and the only host surface is the
  * [[MiniJs.HostObject]]s the caller explicitly binds.
  */
final class JsEngine(code: String, globals: Map[String, Any],
    maxSteps: Long = 5_000_000L,
    now: () => Long = () => System.currentTimeMillis()) extends Serializable {

  /** Bindings the reference strips from Nashorn's global scope. */
  private val poisoned = Set("Java", "load", "loadWithNewGlobal", "exit",
    "quit", "print", "echo", "readLine", "readFully", "eval")

  @transient private lazy val root: Env = {
    val env = new Env(None)
    builtins.foreach { case (k, v) => env.declare(k, v) }
    globals.foreach { case (k, v) => env.declare(k, v) }
    steps = 0
    try parse(code).foreach(exec(_, env))
    catch {
      case ThrownEx(v) => throw new JsException(uncaughtMsg(v))
      case _: StackOverflowError =>
        throw new SandboxViolation("recursion limit exceeded (JVM stack)")
    }
    env
  }

  @transient private var steps: Long = 0
  @transient private var depth: Int = 0

  private def tick(): Unit = {
    steps += 1
    if (steps > maxSteps)
      throw new SandboxViolation(s"step budget exceeded ($maxSteps)")
  }

  /** Invoke a top-level function by name (Invocable.invokeFunction).
    * A script `throw` that no script `catch` handles surfaces as a
    * [[JsException]] — the host never sees the interpreter-internal
    * control exception. */
  def invoke(name: String, args: Any*): Any = {
    val f = root.lookup(name).getOrElse(
      throw new JsException(s"'$name' function does not exist"))
    steps = 0
    depth = 0
    try callValue(f, args.map(toJs))
    catch {
      case ThrownEx(v) => throw new JsException(uncaughtMsg(v))
      // the depth meter caps JS-call recursion at 200, but the Scala
      // frames PER JS frame vary with the script's expression shape and
      // the thread's stack size — an interpreter has no partial external
      // state, so converting an SOE that slipped under the meter at the
      // boundary is safe and keeps the "only JsException/SandboxViolation
      // escape" contract stack-size-independent
      case _: StackOverflowError =>
        throw new SandboxViolation("recursion limit exceeded (JVM stack)")
    }
  }

  private def uncaughtMsg(v: Any): String = v match {
    case m: mutable.LinkedHashMap[String @unchecked, Any @unchecked]
      if m.contains("message") =>
      s"uncaught ${jsToString(m.getOrElse("name", "Error"))}: " +
        jsToString(m("message"))
    case other => s"uncaught script throw: ${jsToString(other)}"
  }

  // ---------- value boundary ----------

  /** Host → JS: integral numbers stay Long, everything else maps
    * structurally. */
  private def toJs(v: Any): Any = v match {
    case null => null
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case f: Float => f.toDouble
    case m: scala.collection.Map[_, _] =>
      val o = mutable.LinkedHashMap.empty[String, Any]
      m.foreach { case (k, x) => o(String.valueOf(k)) = toJs(x) }
      o
    case s: scala.collection.Seq[_] =>
      mutable.ArrayBuffer(s.toSeq.map(toJs): _*)
    case other => other
  }

  /** JS → host: objects become immutable Maps, arrays become Seqs. */
  def fromJs(v: Any): Any = v match {
    case Undefined => null
    case m: mutable.LinkedHashMap[String @unchecked, Any @unchecked] =>
      m.map { case (k, x) => k -> fromJs(x) }.toMap
    case a: mutable.ArrayBuffer[Any @unchecked] => a.map(fromJs).toSeq
    case d: JsEngine.JsDate =>
      if (d.valid) new java.sql.Timestamp(d.ms) else null
    case other => other
  }

  // ---------- builtins ----------

  private def hostFn(f: Seq[Any] => Any): HostObject = new HostObject {
    def invoke(method: String, args: Seq[Any]): Any =
      if (method == "__call__") f(args)
      else throw new JsException(s"not a method: $method")
  }

  private def builtins: Map[String, Any] = Map(
    "Math" -> new HostObject {
      def invoke(m: String, a: Seq[Any]): Any = m match {
        case "floor" => math.floor(num(a.head)).toLong
        case "ceil" => math.ceil(num(a.head)).toLong
        case "round" => math.round(num(a.head))
        case "abs" => num(a.head) match { case d => math.abs(d) }
        case "max" => a.map(num).max
        case "min" => a.map(num).min
        // a missing argument is `undefined` (→ NaN result), never a
        // raw IndexOutOfBoundsException escaping the sandbox
        case "pow" =>
          math.pow(num(a.headOption.getOrElse(Undefined)),
            num(a.lift(1).getOrElse(Undefined)))
        case "sqrt" => math.sqrt(num(a.head))
        case "cbrt" => math.cbrt(num(a.head))
        case "log" => math.log(num(a.head))
        case "log2" =>
          // log(x)/log(2) is off by 1 ulp on some exact powers of two
          // (2^29 → 29.000000000000004); real JS engines return exact
          // integers there, and ceil(log2(n)) idioms depend on it
          val x = num(a.head)
          val l = math.log(x) / math.log(2.0)
          val r = math.rint(l)
          if (math.pow(2.0, r) == x) r else l
        case "log10" => math.log10(num(a.head))
        case "exp" => math.exp(num(a.head))
        // the trig surface geo/distance mapper code needs
        case "sin" => math.sin(num(a.head))
        case "cos" => math.cos(num(a.head))
        case "tan" => math.tan(num(a.head))
        case "asin" => math.asin(num(a.head))
        case "acos" => math.acos(num(a.head))
        case "atan" => math.atan(num(a.head))
        case "atan2" =>
          math.atan2(num(a.headOption.getOrElse(Undefined)),
            num(a.lift(1).getOrElse(Undefined)))
        case "hypot" => // variadic like JS: sqrt of the sum of squares
          math.sqrt(a.map(num).foldLeft(0.0)((s, v) => s + v * v))
        case "trunc" => num(a.head).toLong
        case "sign" => math.signum(num(a.head)).toLong
        case "random" => scala.util.Random.nextDouble()
        case other => throw new JsException(s"Math.$other is not supported")
      }
      override def prop(name: String): Option[Any] = name match {
        case "PI" => Some(math.Pi)
        case "E" => Some(math.E)
        case _ => None
      }
    },
    // the static Object.* surface mapper scripts iterate bodies with
    "Object" -> new HostObject {
      private def asObj(v: Any) = v match {
        case m: mutable.LinkedHashMap[String @unchecked, Any @unchecked] => m
        case other =>
          throw new JsException(s"not an object: ${String.valueOf(other)}")
      }
      def invoke(m: String, a: Seq[Any]): Any = m match {
        case "create" =>
          // the primitive class-`extends` desugars through; fresh
          // object + proto link, so chains cannot cycle
          val o = new JsObj
          a.headOption.getOrElse(Undefined) match {
            case p: mutable.LinkedHashMap[String @unchecked, Any @unchecked] =>
              o.proto = p
            case null => () // Object.create(null): no prototype
            case other =>
              throw new JsException(
                s"Object.create prototype must be an object or null, " +
                  s"got ${String.valueOf(other)}")
          }
          o
        case "getPrototypeOf" => a.headOption.getOrElse(Undefined) match {
          case j: JsObj => j.proto match {
            case Undefined => null // JS: chain end reads as null
            case p => p
          }
          case _: mutable.LinkedHashMap[_, _] => null
          case other =>
            throw new JsException(s"not an object: ${String.valueOf(other)}")
        }
        case "keys" => mutable.ArrayBuffer(asObj(a.head).keys.toSeq: _*)
        // values/entries/assign read accessor slots THROUGH the getter
        // (object literals can hold them since the get/set support) —
        // real JS reads the property; the raw slot must never leak
        case "values" =>
          val o = asObj(a.head)
          mutable.ArrayBuffer(o.values.toSeq.map(deref(o, _)): _*)
        case "entries" =>
          val o = asObj(a.head)
          mutable.ArrayBuffer(o.toSeq.map {
            case (k, v) => mutable.ArrayBuffer[Any](k, deref(o, v))
          }: _*)
        case "assign" =>
          val target = asObj(a.head)
          a.tail.foreach {
            case m: mutable.LinkedHashMap[String @unchecked, Any @unchecked] =>
              // snapshot via getter on the SOURCE, setter-aware write on
              // the target (writeMember routes accessor intercepts)
              m.foreach { case (k, v) => writeMember(target, k, deref(m, v)) }
            case null | Undefined => ()
            case other =>
              throw new JsException(s"Object.assign source not an object: $other")
          }
          target
        case other => throw new JsException(s"Object.$other is not supported")
      }
    },
    "Date" -> new HostObject {
      def invoke(m: String, a: Seq[Any]): Any = m match {
        case "now" => now()
        // zero-arg / missing-arg forms are NaN per JS, never a raw
        // NoSuchElementException escaping the sandbox
        case "parse" => a.headOption
          .flatMap(v => JsEngine.parseDateMs(str(v)))
          .getOrElse(Double.NaN): Any
        case "UTC" =>
          if (a.isEmpty) Double.NaN
          else JsEngine.utcFieldsMs(a.map(num))
            .map(l => l: Any).getOrElse(Double.NaN)
        case other => throw new JsException(s"Date.$other is not supported")
      }
    },
    "JSON" -> new HostObject {
      def invoke(m: String, a: Seq[Any]): Any = m match {
        case "stringify" => a.headOption.getOrElse(Undefined) match {
          // JS: stringify of a bare function (or undefined) is undefined
          case _: Closure | _: Bound | Undefined => Undefined
          // own accessor properties serialize through their getter
          // (metered — the getter body ticks like any call)
          case v => JsJson.stringify(v, (recv, acc) => deref(recv, acc))
        }
        case "parse" => JsJson.parse(str(a.head))
        case other => throw new JsException(s"JSON.$other is not supported")
      }
    },
    // JS semantics: non-numeric input yields NaN, never an exception —
    // a thrown NumberFormatException would escape the sandbox and kill
    // the Spark task on one odd event value
    "parseInt" -> hostFn { a =>
      val s = str(a.head).trim
      val neg = s.startsWith("-")
      val digits = (if (neg || s.startsWith("+")) s.drop(1) else s)
        .takeWhile(_.isDigit)
      if (digits.isEmpty) Double.NaN
      else if (neg) -digits.toLong else digits.toLong
    },
    "parseFloat" -> hostFn { a =>
      val s = str(a.head).trim
      scala.util.Try(s.toDouble).getOrElse {
        // longest valid numeric prefix, as JS does
        val m = "^[+-]?[0-9]*\\.?[0-9]+([eE][+-]?[0-9]+)?".r.findFirstIn(s)
        m.map(_.toDouble).getOrElse(Double.NaN)
      }
    },
    "isNaN" -> hostFn(a => a.head match {
      case d: Double => java.lang.Double.isNaN(d)
      case _: Long => false
      case _ => true
    }),
    "String" -> new HostObject {
      def invoke(m: String, a: Seq[Any]): Any = m match {
        case "__call__" => // String() is "" per spec, not "undefined"
          if (a.isEmpty) "" else jsToString(a.head)
        case "fromCharCode" =>
          val sb = new StringBuilder
          a.foreach { v => sb.append(jsIndex(v).toChar) }
          sb.toString
        case other => throw new JsException(s"String.$other is not supported")
      }
    },
    "Number" -> new HostObject {
      def invoke(m: String, a: Seq[Any]): Any = m match {
        case "__call__" => // Number() is +0 per spec; Number(undefined) is NaN
          if (a.isEmpty) 0L else num(a.head)
        case "isInteger" => a.headOption.getOrElse(Undefined) match {
          case _: Long => true
          case d: Double => !d.isNaN && !d.isInfinite && d.isWhole
          case _ => false
        }
        case "isFinite" => a.headOption.getOrElse(Undefined) match {
          case _: Long => true
          case d: Double => !d.isNaN && !d.isInfinite
          case _ => false // Number.isFinite does NOT coerce (unlike global)
        }
        case "isNaN" => a.headOption.getOrElse(Undefined) match {
          case d: Double => d.isNaN
          case _ => false // Number.isNaN does NOT coerce either
        }
        case other => throw new JsException(s"Number.$other is not supported")
      }
      override def prop(name: String): Option[Any] = name match {
        case "MAX_SAFE_INTEGER" => Some(9007199254740991L)
        case "MIN_SAFE_INTEGER" => Some(-9007199254740991L)
        case "NaN" => Some(Double.NaN)
        case "POSITIVE_INFINITY" => Some(Double.PositiveInfinity)
        case "NEGATIVE_INFINITY" => Some(Double.NegativeInfinity)
        case _ => None
      }
    },
    // JS-spec percent encoding, not java.net.URLEncoder: component
    // keeps only unreserved A-Za-z0-9 -_.!~*'() and encodes space as
    // %20 (never +); the URI form additionally keeps the reserved
    // separators. Malformed input to the decoders throws the
    // catchable URIError shape, the JS contract.
    // zero-arg calls see `undefined` like JS (encodeURIComponent() is
    // "undefined", Array.isArray() is false) — a.head on an empty Seq
    // would escape the sandbox as NoSuchElementException
    "encodeURIComponent" -> hostFn(a =>
      JsEngine.percentEncode(str(a.headOption.getOrElse(Undefined)),
        JsEngine.UriUnreserved)),
    "encodeURI" -> hostFn(a =>
      JsEngine.percentEncode(str(a.headOption.getOrElse(Undefined)),
        JsEngine.UriUnreserved ++ ";,/?:@&=+$#")),
    "decodeURIComponent" -> hostFn(a =>
      JsEngine.percentDecode(str(a.headOption.getOrElse(Undefined)))),
    "decodeURI" -> hostFn(a =>
      JsEngine.percentDecode(str(a.headOption.getOrElse(Undefined)),
        preserveReserved = true)),
    "Array" -> new HostObject {
      def invoke(m: String, a: Seq[Any]): Any = m match {
        case "isArray" =>
          a.headOption.exists(_.isInstanceOf[mutable.ArrayBuffer[_]])
        case other => throw new JsException(s"Array.$other is not supported")
      }
    }
  )

  // ---------- evaluation ----------

  private final case class ReturnEx(v: Any) extends RuntimeException
  private final class BreakEx extends RuntimeException
  private final class ContinueEx extends RuntimeException
  /** A value thrown by script `throw` — catchable by script `catch`. */
  private final case class ThrownEx(v: Any) extends RuntimeException

  /** Runtime errors surface in `catch (e)` as an Error-shaped object —
    * the Nashorn behavior mapper scripts rely on (`try { JSON.parse(x) }
    * catch (e) { return e.message }`). Sandbox violations (step budget,
    * recursion, array bounds) are deliberately NOT catchable: a script
    * must not swallow its own resource cap. */
  private def errObj(msg: String): Any = {
    val o = mutable.LinkedHashMap.empty[String, Any]
    o("name") = "Error"
    o("message") = msg
    o
  }

  private def exec(s: Stmt, env: Env): Unit = {
    tick()
    s match {
      case VarDecl(entries) =>
        entries.foreach { case (n, init) =>
          env.declare(n, init.map(eval(_, env)).getOrElse(Undefined))
        }
      case FunDecl(name, ps, body) =>
        env.declare(name, Closure(ps, body, env, name))
      case ExprStmt(e) => eval(e, env)
      case IfS(c, t, f) =>
        if (truthy(eval(c, env))) exec(t, env) else f.foreach(exec(_, env))
      case WhileS(c, body) =>
        while (truthy(eval(c, env))) {
          try exec(body, env)
          catch {
            case _: ContinueEx => ()
            case _: BreakEx => return
          }
        }
      case DoWhileS(body, c) =>
        var go = true
        while (go) {
          try exec(body, env)
          catch {
            case _: ContinueEx => ()
            case _: BreakEx => return
          }
          go = truthy(eval(c, env))
        }
      case SwitchS(discE, cases) =>
        val disc = eval(discE, env)
        // first strictly-equal case wins; no match falls to default;
        // execution then FALLS THROUGH subsequent clauses until break
        // (which exits the switch, never an enclosing loop)
        val start = cases.indexWhere {
          case (Some(t), _) => strictEq(eval(t, env), disc)
          case (None, _) => false
        }
        val from = if (start >= 0) start else cases.indexWhere(_._1.isEmpty)
        if (from >= 0) {
          val scope = new Env(Some(env))
          try cases.drop(from).foreach { case (_, stmts) =>
            stmts.foreach(exec(_, scope))
          }
          catch { case _: BreakEx => () }
        }
      case ForInS(name, objE, body) =>
        val keys: Seq[Any] = eval(objE, env) match {
          case m: mutable.LinkedHashMap[String @unchecked, Any @unchecked] =>
            // own keys first (all of them — own function props are
            // enumerable in JS), then inherited DATA properties up the
            // chain; function-valued inherited props are skipped, which
            // models class methods being non-enumerable. Metered: an
            // Object.create chain can be long.
            val seen = mutable.LinkedHashSet.empty[String]
            m.keys.foreach { k => tick(); seen += k }
            var cur: Any = m match {
              case j: JsObj => j.proto
              case _ => Undefined
            }
            var going = true
            while (going) cur match {
              case o: mutable.LinkedHashMap[String @unchecked, Any @unchecked] =>
                o.foreach { case (k, v) =>
                  tick()
                  v match {
                    case _: Closure | _: Bound | _: MiniJs.Accessor => ()
                    case _ => seen += k
                  }
                }
                cur = o match {
                  case j: JsObj => j.proto
                  case _ => Undefined
                }
              case _ => going = false
            }
            seen.toSeq
          case a: mutable.ArrayBuffer[_] => (0L until a.length.toLong)
          case s: String => (0L until s.length.toLong)
          case null | Undefined => Seq.empty // JS: for-in over null is a no-op
          case _ => Seq.empty
        }
        val scope = new Env(Some(env))
        scope.declare(name, Undefined)
        val it = keys.iterator
        var looping = true
        while (looping && it.hasNext) {
          tick()
          scope.assign(name, it.next())
          try exec(body, scope)
          catch {
            case _: ContinueEx => ()
            case _: BreakEx => looping = false
          }
        }
      case ForOfS(name, objE, body) =>
        val values: Seq[Any] = eval(objE, env) match {
          case a: mutable.ArrayBuffer[Any @unchecked] => a.toSeq
          case s: String => s.map(_.toString)
          case null | Undefined => Seq.empty
          case other =>
            throw new JsException(jsToString(other) + " is not iterable")
        }
        val scope = new Env(Some(env))
        scope.declare(name, Undefined)
        val it = values.iterator
        var looping = true
        while (looping && it.hasNext) {
          tick()
          scope.assign(name, it.next())
          try exec(body, scope)
          catch {
            case _: ContinueEx => ()
            case _: BreakEx => looping = false
          }
        }
      case TryS(body, cvar, cbody, fin) =>
        try {
          try exec(body, env)
          catch {
            case ThrownEx(v) if cbody.isDefined =>
              val scope = new Env(Some(env))
              cvar.foreach(scope.declare(_, v))
              exec(cbody.get, scope)
            case je: JsException if cbody.isDefined =>
              val scope = new Env(Some(env))
              cvar.foreach(scope.declare(_, errObj(je.getMessage)))
              exec(cbody.get, scope)
          }
        } finally fin.foreach(exec(_, env))
      case ThrowS(e) => throw ThrownEx(eval(e, env))
      case ForS(init, cond, step, body) =>
        val scope = new Env(Some(env))
        init.foreach(exec(_, scope))
        var looping = true
        while (looping && cond.forall(c => truthy(eval(c, scope)))) {
          try exec(body, scope)
          catch {
            case _: ContinueEx => ()
            case _: BreakEx => looping = false
          }
          if (looping) step.foreach(eval(_, scope))
        }
      case ReturnS(e) => throw ReturnEx(e.map(eval(_, env)).getOrElse(Undefined))
      case BreakS => throw new BreakEx
      case ContinueS => throw new ContinueEx
      case Block(stmts) =>
        val scope = new Env(Some(env))
        stmts.foreach(exec(_, scope))
      case Stmts(ss) => ss.foreach(exec(_, env))
    }
  }

  private def eval(e: Expr, env: Env): Any = {
    tick()
    e match {
      case NumL(v) => v
      case NumD(v) => v
      case Str(v) => v
      case Bool(v) => v
      case NullE => null
      case UndefE => Undefined
      case Ident(n) =>
        if (poisoned(n))
          throw new SandboxViolation(s"'$n' is not available in the sandbox")
        env.lookup(n).getOrElse(throw new JsException(s"'$n' is not defined"))
      case ObjLit(entries) =>
        val o = mutable.LinkedHashMap.empty[String, Any]
        entries.foreach { case (k, v) => o(k) = eval(v, env) }
        o
      case ArrLit(items) => mutable.ArrayBuffer(items.map(eval(_, env)): _*)
      case FunLit(ps, body, name, isArrow) =>
        Closure(ps, body, env, name, isArrow)
      case ThisE => env.lookup("this").getOrElse(Undefined)
      case SuperE(bind, methodOpt, static, argEs) =>
        val sup = env.lookup(bind).getOrElse(
          throw new JsException("superclass binding is missing"))
        val thisV = env.lookup("this").getOrElse(Undefined)
        val fn = methodOpt match {
          case None => sup // super(...): the parent constructor itself
          case Some(m) => sup match {
            case c: Closure =>
              val found =
                if (static) closureStatic(c, m) // incl. grandparent statics
                else memberLookup(prototypeOf(c), m)
              found match {
                case Undefined =>
                  throw new JsException(s"super.$m is not a function")
                case f => f
              }
            case _ =>
              throw new JsException("superclass is not a script function")
          }
        }
        // a super(...) ctor call forwards the CURRENT new.target (real
        // JS: the parent ctor sees the derived class); super.m() calls
        // are plain calls (new.target undefined inside)
        val nt = methodOpt match {
          case None => env.lookup("new.target").getOrElse(Undefined)
          case Some(_) => Undefined
        }
        callValue(fn, argEs.map(eval(_, env)), thisVal = thisV, newTarget = nt)
      case NewTargetE => env.lookup("new.target").getOrElse(Undefined)
      case SuperForwardE(bind) =>
        // implicit derived ctor: call the parent constructor DIRECTLY
        // with this frame's arguments/this/new.target — no member
        // resolution a script static could intercept
        val sup = env.lookup(bind).getOrElse(
          throw new JsException("superclass binding is missing"))
        val fwd = env.lookup("arguments") match {
          case Some(a: mutable.ArrayBuffer[Any @unchecked]) => a.toSeq
          case _ => Seq.empty[Any]
        }
        callValue(sup, fwd,
          thisVal = env.lookup("this").getOrElse(Undefined),
          newTarget = env.lookup("new.target").getOrElse(Undefined))
      case RegexL(p, f) => JsEngine.regexValue(p, f)
      case NewE(ctorE, argEs) =>
        // constructor resolves BEFORE arguments evaluate (JS order: an
        // invalid constructor errors before argument side effects run);
        // a script binding (even one shadowing a built-in name) wins,
        // otherwise an Ident falls to the built-in constructor set
        val resolved: Option[Any] = ctorE match {
          case Ident(n) =>
            if (poisoned(n))
              throw new SandboxViolation(s"'$n' is not available in the sandbox")
            env.lookup(n)
          case other => Some(eval(other, env))
        }
        def args = argEs.map(eval(_, env))
        resolved match {
          case Some(c: Closure) => constructUser(c, args)
          case Some(b: Bound) =>
            // JS [[Construct]] on a bound function: the bound `this` is
            // IGNORED, the target's prototype is used, bound args
            // prepend
            unwrapBound(b, args) match {
              case (c: Closure, combined, _) => constructUser(c, combined)
              case (other, _, _) => throw new JsException(
                s"${jsToString(other)} is not a constructor")
            }
          // unshadowed name (or the built-in host binding itself) → the
          // built-in constructor set; any OTHER shadowing value is the
          // JS "not a constructor" TypeError, not a silent fallback.
          // A name that is neither bound nor a built-in errors BEFORE
          // the arguments evaluate (the JS reference-error order).
          case None | Some(_: HostObject) => ctorE match {
            case Ident(n) =>
              if (!JsEngine.builtinCtors(n)) {
                if (resolved.isEmpty)
                  throw new JsException(s"'$n' is not defined")
                else // a bound host that isn't a constructor (Math, JSON)
                  throw new JsException(s"'$n' is not a constructor")
              }
              construct(n, args)
            case _ =>
              throw new JsException("new target is not a constructor")
          }
          case Some(other) =>
            throw new JsException(
              s"${jsToString(other)} is not a constructor")
        }
      case AccessorE(g, s) =>
        MiniJs.Accessor(
          g.map(eval(_, env)).getOrElse(Undefined),
          s.map(eval(_, env)).getOrElse(Undefined))
      case Member(t, name) => readMember(eval(t, env), name)
      case IndexE(t, k) => readIndex(eval(t, env), eval(k, env))
      case Call(target, argEs) =>
        val args = argEs.map(eval(_, env))
        target match {
          case Member(t, name) =>
            val recv = eval(t, env)
            callMember(recv, name, args)
          case IndexE(t, k) =>
            // o["m"]() binds `this` exactly like o.m()
            val recv = eval(t, env)
            eval(k, env) match {
              case s: String => callMember(recv, s, args)
              case key => callValue(readIndex(recv, key), args)
            }
          case other => callValue(eval(other, env), args)
        }
      case Unary("typeof", Ident(n)) =>
        // the ONE place JS reads an unresolved name without a
        // ReferenceError: typeof missing === 'undefined'
        typeofString(env.lookup(n).getOrElse(Undefined))
      case Unary(op, x) =>
        val v = eval(x, env)
        op match {
          case "!" => !truthy(v)
          case "-" => v match {
            case l: Long => -l
            case other => -num(other)
          }
          case "+" => v match {
            case l: Long => l
            case other => num(other)
          }
          case "typeof" => typeofString(v)
        }
      case Bin("instanceof", le, re) =>
        // the Nashorn-era idioms `x instanceof Array` / `e instanceof
        // Error` must work: when the RHS is an unshadowed built-in
        // name, classify by VALUE SHAPE; a script-function RHS walks
        // the prototype chain in binop
        val lv = eval(le, env)
        re match {
          case Ident(n) => env.lookup(n) match {
            case Some(_: HostObject) => builtinInstance(lv, n)
            case None if JsEngine.builtinCtors(n) => builtinInstance(lv, n)
            case None =>
              throw new JsException(s"'$n' is not defined")
            case Some(v) => binop("instanceof", lv, v)
          }
          case _ => binop("instanceof", lv, eval(re, env))
        }
      case Bin("&&", l, r) =>
        val lv = eval(l, env); if (!truthy(lv)) lv else eval(r, env)
      case Bin("||", l, r) =>
        val lv = eval(l, env); if (truthy(lv)) lv else eval(r, env)
      case Bin(op, l, r) => binop(op, eval(l, env), eval(r, env))
      case CondE(c, t, f) =>
        if (truthy(eval(c, env))) eval(t, env) else eval(f, env)
      case Assign(target, op, valueE) =>
        val rhs0 = eval(valueE, env)
        def combined(old: => Any): Any =
          if (op == "=") rhs0 else binop(op.substring(0, 1), old, rhs0)
        target match {
          case Ident(n) =>
            val v = combined(env.lookup(n).getOrElse(
              throw new JsException(s"'$n' is not defined")))
            if (!env.assign(n, v)) env.declare(n, v)
            v
          case Member(t, name) =>
            val recv = eval(t, env)
            val v = combined(readMember(recv, name))
            writeMember(recv, name, v)
            v
          case IndexE(t, k) =>
            val recv = eval(t, env)
            val key = eval(k, env)
            val v = combined(readIndex(recv, key))
            writeIndex(recv, key, v)
            v
          case _ => throw new JsException("invalid assignment target")
        }
    }
  }

  private def callValue(f: Any, args: Seq[Any],
      thisVal: Any = Undefined, newTarget: Any = Undefined): Any = f match {
    case Closure(ps, body, closureEnv, _, isArrow) =>
      depth += 1
      if (depth > 200) throw new SandboxViolation("recursion limit exceeded")
      try {
        val scope = new Env(Some(closureEnv))
        // arrows don't bind `this` OR `arguments` — the lexical lookup
        // falls through to the enclosing method's bindings (the JS
        // arrow rule). `arguments` is a fresh array of the ACTUAL
        // arguments, declared before the params so a parameter (or
        // local) named `arguments` shadows it, as in JS.
        if (!isArrow) {
          scope.declare("this", thisVal)
          scope.declare("arguments", mutable.ArrayBuffer[Any](args: _*))
          // the binding name carries a dot, so no identifier shadows it;
          // arrows skip the declare and read it lexically, like `this`
          scope.declare("new.target", newTarget)
        }
        ps.zipWithIndex.foreach { case (p, i) =>
          scope.declare(p, if (i < args.length) args(i) else Undefined)
        }
        try { body.foreach(exec(_, scope)); Undefined }
        catch { case ReturnEx(v) => v }
      } finally depth -= 1
    case b: Bound =>
      val (target, acc, boundThis) = unwrapBound(b, args)
      // JS: the innermost bind fixed `this`; later binds can't rebind it
      callValue(target, acc, boundThis)
    case h: HostObject => h.invoke("__call__", args)
    case other => throw new JsException(s"${jsToString(other)} is not a function")
  }

  /** Iterative bind-chain unwrap shared by the call, construct and
    * instanceof paths — metered per level AND per prepended argument: a
    * bind-chain built within the step budget must not buy a single
    * unmetered O(n²) call (the concat width IS n levels × n args of
    * actual work, so it costs O(n²) budget, not O(n)) or a
    * StackOverflowError on deep recursion. Returns the innermost
    * target, the combined argument list, and the innermost bound
    * `this`. */
  private def unwrapBound(b: Bound, args: Seq[Any]): (Any, Seq[Any], Any) = {
    var target: Any = b
    var acc = args
    var boundThis: Any = Undefined
    while (target.isInstanceOf[Bound]) {
      val bb = target.asInstanceOf[Bound]
      tick()
      acc = bb.pre ++ acc
      acc.foreach(_ => tick())
      boundThis = bb.thisVal
      target = bb.target
    }
    (target, acc, boundThis)
  }

  /** `F.prototype`, auto-created on first touch like JS gives every
    * function one. */
  private def prototypeOf(c: Closure): Any =
    c.props.getOrElseUpdate("prototype",
      mutable.LinkedHashMap.empty[String, Any])

  /** `new F(args)` on a script function: a fresh object chained to
    * `F.prototype`, the constructor body run with it as `this`; an
    * explicit OBJECT return overrides the instance (the JS rule —
    * primitive returns don't). */
  private def constructUser(c: Closure, args: Seq[Any]): Any = {
    if (c.isArrow)
      throw new JsException("arrow functions are not constructors")
    val obj = new JsObj
    obj.proto = prototypeOf(c)
    callValue(c, args, thisVal = obj, newTarget = c) match {
      case r: mutable.LinkedHashMap[_, _] => r
      case r: mutable.ArrayBuffer[_] => r
      case r: JsEngine.JsDate => r // dates/hosts are objects too — they
      case r: HostObject => r //      override like any object return
      case _ => obj
    }
  }

  /** `x instanceof <built-in name>` classified by value shape (there
    * are no wrapper objects here, and the built-in constructors are
    * host singletons with no .prototype identity to walk to). */
  private def builtinInstance(v: Any, name: String): Boolean = name match {
    case "Array" => v.isInstanceOf[mutable.ArrayBuffer[_]]
    case "Date" => v.isInstanceOf[JsEngine.JsDate]
    case "RegExp" => v.isInstanceOf[JsEngine.JsRegex]
    case n if JsEngine.errorNames(n) => v match {
      case m: mutable.LinkedHashMap[String @unchecked, Any @unchecked] =>
        m.get("name") match {
          case Some(s: String) =>
            if (n == "Error") JsEngine.errorNames(s) else s == n
          case _ => false
        }
      case _ => false
    }
    case "Object" => v match {
      case null | Undefined => false
      case _: String | _: Long | _: Double | _: java.lang.Boolean => false
      case _ => true // objects, arrays, functions, dates, regexes, hosts
    }
    case _ => false // Math, JSON, String, Number, … — no instances here
  }

  /** Member lookup through the prototype chain. Own properties first;
    * only [[JsObj]] carries a link, so plain-object behavior (and cost)
    * is untouched. Chains cannot cycle — see [[JsObj]] — but they can
    * be LONG (an Object.create loop), so each hop is metered. */
  @annotation.tailrec
  private def memberLookup(o: Any, name: String): Any = o match {
    case m: mutable.LinkedHashMap[String @unchecked, Any @unchecked] =>
      m.get(name) match {
        case Some(v) => v
        case None => m match {
          case j: JsObj => tick(); memberLookup(j.proto, name)
          case _ => Undefined
        }
      }
    case _ => Undefined
  }

  /** `new Ctor(args)` over the closed built-in set. Dates are UTC
    * throughout (the engine defines UTC semantics regardless of host
    * zone — executor-zone-dependent mapper output would be a
    * correctness bug); an unparseable date is the JS Invalid Date
    * (getTime → NaN), never an exception. */
  private def construct(ctor: String, args: Seq[Any]): Any = ctor match {
    case "Date" =>
      if (args.isEmpty) new JsEngine.JsDate(now(), valid = true)
      else if (args.size == 1) args.head match {
        case s: String => JsEngine.parseDateMs(s) match {
          case Some(ms) => new JsEngine.JsDate(ms, valid = true)
          case None => new JsEngine.JsDate(0L, valid = false)
        }
        case d: JsEngine.JsDate =>
          // copy — dates are mutable now, and JS new Date(d) clones
          new JsEngine.JsDate(d.ms, d.valid)
        case other =>
          val d = num(other)
          if (d.isNaN) new JsEngine.JsDate(0L, valid = false)
          else new JsEngine.JsDate(d.toLong, valid = true)
      }
      else JsEngine.utcFieldsMs(args.map(num)) match {
        case Some(ms) => new JsEngine.JsDate(ms, valid = true)
        case None => new JsEngine.JsDate(0L, valid = false)
      }
    case "Error" | "TypeError" | "RangeError" | "SyntaxError" =>
      // the Error-object shape runtime errors already use: a plain
      // object with name/message, so catch blocks treat both alike
      mutable.LinkedHashMap[String, Any]("name" -> ctor,
        "message" -> (if (args.isEmpty) "" else str(args.head)))
    case "RegExp" =>
      // new RegExp() is the empty pattern per JS, not a head() crash
      JsEngine.regexValue(args.headOption.map(str).getOrElse(""),
        if (args.size > 1) str(args(1)) else "")
    case "Array" =>
      if (args.size == 1 && (args.head.isInstanceOf[Long] ||
        args.head.isInstanceOf[Double])) {
        val d = num(args.head)
        // new Array(1.5) is a RangeError per the JS spec (invalid array
        // length), not a silent truncation to 1 element — thrown as a
        // catchable script value with the RangeError shape
        if (d.isNaN || d.isInfinite || d != Math.floor(d)) {
          val o = mutable.LinkedHashMap.empty[String, Any]
          o("name") = "RangeError"
          o("message") = "invalid array length"
          throw ThrownEx(o)
        }
        val n = d.toLong
        if (n < 0 || n > JsEngine.MaxArrayLength)
          throw new SandboxViolation(
            s"new Array($n) out of sandbox bounds")
        val a = mutable.ArrayBuffer.empty[Any]
        (0L until n).foreach { _ => tick(); a += Undefined }
        a
      } else mutable.ArrayBuffer(args: _*)
    case "Object" => mutable.LinkedHashMap.empty[String, Any]
    case other =>
      throw new JsException(s"'$other' is not a constructor: it names " +
        "no script function and no built-in (Date, Error, RegExp, " +
        "Array, Object)")
  }

  private def callMember(recv: Any, name: String, args: Seq[Any]): Any = recv match {
    case h: HostObject => h.invoke(name, args)
    case d: JsEngine.JsDate => d.call(name, args.map(num))
    case f: Closure => functionMember(f, name, args)
    case b: Bound => functionMember(b, name, args)
    case m: mutable.LinkedHashMap[String @unchecked, Any @unchecked] =>
      deref(m, memberLookup(m, name)) match {
        case Undefined =>
          if (name == "hasOwnProperty")
            m.contains(str(args.headOption.getOrElse(Undefined)))
          else
            throw new JsException(s"'$name' is not a function on object")
        case f => callValue(f, args, thisVal = m)
      }
    case a: mutable.ArrayBuffer[Any @unchecked] => name match {
      case "push" => args.foreach(a += _); a.length.toLong
      case "pop" => if (a.isEmpty) Undefined else a.remove(a.length - 1)
      case "indexOf" => a.indexWhere(x => strictEq(x, args.head)).toLong
      case "includes" => a.exists(x => strictEq(x, args.head))
      case "concat" =>
        // JS concat flattens ARRAY arguments one level, keeps the rest
        val out = mutable.ArrayBuffer(a.toSeq: _*)
        args.foreach {
          case arr: mutable.ArrayBuffer[Any @unchecked] =>
            arr.foreach { x => tick(); out += x }
          case x => out += x
        }
        out
      case "map" =>
        mutable.ArrayBuffer(a.zipWithIndex.map { case (x, i) =>
          tick(); callValue(args.head, Seq(x, i.toLong, a))
        }.toSeq: _*)
      case "filter" =>
        mutable.ArrayBuffer(a.zipWithIndex.collect {
          case (x, i) if { tick(); truthy(callValue(args.head, Seq(x, i.toLong, a))) } => x
        }.toSeq: _*)
      case "forEach" =>
        a.zipWithIndex.foreach { case (x, i) =>
          tick(); callValue(args.head, Seq(x, i.toLong, a))
        }
        Undefined
      case "join" =>
        a.map(jsToString).mkString(if (args.isEmpty) "," else str(args.head))
      case "slice" =>
        // JS array.slice: negative indexes from the end, clamped
        def resolve(v: Any, dflt: Long): Long = {
          val i = if (v == Undefined) dflt else jsIndex(v)
          val r = if (i < 0) a.length + i else i
          math.max(0L, math.min(r, a.length.toLong))
        }
        val from = resolve(args.headOption.getOrElse(Undefined), 0L)
        val until = resolve(if (args.length > 1) args(1) else Undefined, a.length.toLong)
        a.slice(from.toInt, until.toInt)
      case "reverse" =>
        val rev = a.reverse; a.clear(); a ++= rev; a
      case "shift" => if (a.isEmpty) Undefined else a.remove(0)
      case "unshift" =>
        a.prependAll(args); a.length.toLong
      case "sort" =>
        // JS default sort is LEXICOGRAPHIC on the string forms; a
        // comparator closure sorts numerically by its sign
        a.foreach(_ => tick())
        val sorted = args.headOption match {
          case Some(cmp: Closure) =>
            // an intransitive comparator (NaN from non-numeric mixes)
            // makes TimSort throw a raw IllegalArgumentException that
            // would escape the sandbox's error surface — surface it as
            // a catchable script error like every other misuse
            try a.sortWith((x, y) => { tick(); num(callValue(cmp, Seq(x, y))) < 0 })
            catch {
              case e: IllegalArgumentException =>
                throw new JsException(
                  "sort comparator is inconsistent: " + e.getMessage)
            }
          case _ => a.sortBy(jsToString)
        }
        a.clear(); a ++= sorted; a
      case "reduce" =>
        val fn = args.head
        if (a.isEmpty && args.length < 2)
          throw new JsException("reduce of empty array with no initial value")
        var (acc: Any, start) =
          if (args.length > 1) (args(1), 0) else (a(0): Any, 1)
        (start until a.length).foreach { i =>
          tick(); acc = callValue(fn, Seq(acc, a(i), i.toLong, a))
        }
        acc
      case "some" =>
        a.zipWithIndex.exists { case (x, i) =>
          tick(); truthy(callValue(args.head, Seq(x, i.toLong, a))) }
      case "every" =>
        a.zipWithIndex.forall { case (x, i) =>
          tick(); truthy(callValue(args.head, Seq(x, i.toLong, a))) }
      case "find" =>
        a.zipWithIndex.collectFirst { case (x, i)
          if { tick(); truthy(callValue(args.head, Seq(x, i.toLong, a))) } => x }
          .getOrElse(Undefined)
      case "findIndex" =>
        a.zipWithIndex.collectFirst { case (x, i)
          if { tick(); truthy(callValue(args.head, Seq(x, i.toLong, a))) } => i.toLong }
          .getOrElse(-1L)
      case other => throw new JsException(s"array.$other is not supported")
    }
    case n if n.isInstanceOf[Long] || n.isInstanceOf[Double] => name match {
      case "toFixed" =>
        val digits = args.headOption.map(jsIndex(_).toInt).getOrElse(0)
        if (digits < 0 || digits > 100)
          throw new JsException("toFixed digits out of range")
        String.format(java.util.Locale.ROOT, s"%.${digits}f",
          java.lang.Double.valueOf(num(n)))
      case "toString" => jsToString(n)
      case other => throw new JsException(s"number.$other is not supported")
    }
    case s: String => name match {
      // Index args are data-dependent: JS clamps out-of-range indexes and
      // returns '' instead of throwing, and that containment is what keeps
      // one odd event value from killing the whole Spark task.
      case "charAt" =>
        val i = jsIndex(args.headOption.getOrElse(Undefined))
        if (i >= 0 && i < s.length) s.charAt(i.toInt).toString else ""
      case "indexOf" => s.indexOf(str(args.head)).toLong
      case "substring" =>
        // JS: NaN→0, clamp both ends to [0, length], swap if start > end
        def clamp(v: Any): Int = math.max(0L, math.min(jsIndex(v), s.length.toLong)).toInt
        val a0 = clamp(args.headOption.getOrElse(Undefined))
        val a1 = if (args.length > 1) clamp(args(1)) else s.length
        s.substring(math.min(a0, a1), math.max(a0, a1))
      case "substr" =>
        // the Annex-B legacy form Nashorn-era scripts still use:
        // (start, LENGTH), negative start counts from the end; an
        // UNDEFINED length means the rest of the string (it must not
        // coerce to 0 like a numeric NaN would)
        val st0 = jsIndex(args.headOption.getOrElse(Undefined))
        val st = math.max(0L, if (st0 < 0) s.length + st0 else st0)
          .min(s.length.toLong).toInt
        val len = if (args.length > 1 && args(1) != Undefined)
          math.max(0L, jsIndex(args(1))).min((s.length - st).toLong).toInt
        else s.length - st
        s.substring(st, st + len)
      case "slice" =>
        // JS: negative indexes count from the end; clamp; empty if from>=until
        def resolve(v: Any, dflt: Long): Long = {
          val i = if (v == Undefined) dflt else jsIndex(v)
          val r = if (i < 0) s.length + i else i
          math.max(0L, math.min(r, s.length.toLong))
        }
        val from = resolve(args.headOption.getOrElse(Undefined), 0L)
        val until = resolve(if (args.length > 1) args(1) else Undefined, s.length.toLong)
        if (from >= until) "" else s.substring(from.toInt, until.toInt)
      case "toLowerCase" => s.toLowerCase
      case "toUpperCase" => s.toUpperCase
      case "trim" => s.trim
      case "split" => args.head match {
        case r: JsEngine.JsRegex =>
          mutable.ArrayBuffer(r.compiled.split(s, -1).toSeq: _*)
        case other =>
          mutable.ArrayBuffer(s.split(java.util.regex.Pattern.quote(str(other)), -1).toSeq: _*)
      }
      case "replace" => args.head match {
        case r: JsEngine.JsRegex => regexReplace(s, r, args(1))
        case other =>
          // JS replace(string, string) replaces only the FIRST occurrence
          // (java.lang.String.replace would replace all)
          val target = str(other)
          val i = s.indexOf(target)
          if (i < 0) s
          else s.substring(0, i) + str(args(1)) + s.substring(i + target.length)
      }
      case "replaceAll" => args.head match {
        case r: JsEngine.JsRegex =>
          // JS: String.replaceAll with a non-global regex is a TypeError
          if (!r.global)
            throw new JsException("replaceAll must be called with a global regex")
          regexReplace(s, r, args(1))
        case other => s.replace(str(other), str(args(1)))
      }
      case "match" => args.head match {
        case r: JsEngine.JsRegex =>
          val m = r.compiled.matcher(s)
          if (r.global) {
            val out = mutable.ArrayBuffer.empty[Any]
            while (m.find()) { tick(); out += m.group() }
            if (out.isEmpty) null else out
          } else if (m.find()) matchArray(m)
          else null
        case other =>
          // JS coerces the argument to a (non-global) regex
          val m = JsEngine.regexValue(str(other), "").compiled.matcher(s)
          if (m.find()) matchArray(m) else null
      }
      case "search" =>
        val r = args.head match {
          case rr: JsEngine.JsRegex => rr
          case other => JsEngine.regexValue(str(other), "")
        }
        val m = r.compiled.matcher(s)
        if (m.find()) m.start.toLong else -1L
      case "charCodeAt" =>
        val i = jsIndex(args.headOption.getOrElse(Undefined))
        if (i >= 0 && i < s.length) s.charAt(i.toInt).toLong else Double.NaN
      case "repeat" =>
        val n = jsIndex(args.headOption.getOrElse(Undefined))
        if (n < 0) throw new JsException("repeat count must be non-negative")
        if (n * s.length > JsEngine.MaxArrayLength)
          throw new SandboxViolation("repeat result exceeds sandbox bounds")
        (0L until n).foreach(_ => tick())
        s * n.toInt
      case "startsWith" => s.startsWith(str(args.head))
      case "endsWith" => s.endsWith(str(args.head))
      case "includes" => s.contains(str(args.head))
      case "lastIndexOf" => s.lastIndexOf(str(args.head)).toLong
      case "concat" => s + args.map(str).mkString
      case "trimStart" => s.dropWhile(_.isWhitespace)
      case "trimEnd" => s.reverse.dropWhile(_.isWhitespace).reverse
      case "padStart" | "padEnd" =>
        val target = jsIndex(args.headOption.getOrElse(Undefined))
        if (target > JsEngine.MaxArrayLength)
          throw new SandboxViolation("pad target exceeds sandbox bounds")
        val fill = if (args.length > 1) str(args(1)) else " "
        if (target <= s.length || fill.isEmpty) s
        else {
          (0L until (target - s.length)).foreach(_ => tick())
          val pad = (fill * ((target - s.length).toInt / fill.length + 1))
            .take(target.toInt - s.length)
          if (name == "padStart") pad + s else s + pad
        }
      case other => throw new JsException(s"string.$other is not supported")
    }
    case r: JsEngine.JsRegex => name match {
      // stateless semantics: every call scans from position 0 (no
      // lastIndex) — see JsRegex doc
      case "test" => r.compiled.matcher(str(args.head)).find()
      case "exec" =>
        val m = r.compiled.matcher(str(args.head))
        if (m.find()) matchArray(m) else null
      case other => throw new JsException(s"regex.$other is not supported")
    }
    case null => throw new JsException(s"cannot call '$name' of null")
    case Undefined => throw new JsException(s"cannot call '$name' of undefined")
    case other => throw new JsException(s"cannot call '$name' on ${jsToString(other)}")
  }

  /** `f.call(thisArg, …)` / `f.apply(thisArg, argsArray)` / `f.bind` —
    * the Function.prototype surface `super` desugars through — plus
    * STATIC methods stored on the function object (`Counter.origin()`),
    * which JS calls with the constructor itself as `this`. */
  private def functionMember(f: Any, name: String, args: Seq[Any]): Any = {
    f match {
      case c: Closure =>
        // own OR inherited statics (the static-inheritance chain);
        // call/apply/bind below stay reachable because scripts cannot
        // store props under those names on a class without also meaning
        // to shadow them — the JS own-property-wins rule either way
        closureStatic(c, name) match {
          case Undefined => ()
          case static => return callValue(deref(c, static), args, thisVal = c)
        }
      case _ => ()
    }
    name match {
      case "call" =>
        callValue(f, args.drop(1), args.headOption.getOrElse(Undefined))
      case "apply" =>
        val spread = args.lift(1) match {
          case Some(a: mutable.ArrayBuffer[Any @unchecked]) => a.toSeq
          case Some(null) | Some(Undefined) | None => Seq.empty[Any]
          case Some(other) =>
            throw new JsException(
              s"apply arguments must be an array, got ${jsToString(other)}")
        }
        callValue(f, spread, args.headOption.getOrElse(Undefined))
      case "bind" =>
        Bound(f, args.headOption.getOrElse(Undefined), args.drop(1))
      case other =>
        throw new JsException(s"function.$other is not supported")
    }
  }

  /** An exec/match result: [full, group1, …] with unmatched groups as
    * `undefined`, JS-style. */
  private def matchArray(m: java.util.regex.Matcher): mutable.ArrayBuffer[Any] = {
    val out = mutable.ArrayBuffer[Any](m.group())
    (1 to m.groupCount).foreach { g =>
      out += (if (m.group(g) == null) Undefined else m.group(g))
    }
    out
  }

  /** `s.replace(/re/, repl)`: first match, or every match with `g`. A
    * string replacement expands `$$`, `$&` and `$1..$99`; a function
    * replacement is called JS-style with (match, groups…, offset,
    * string). Host-side match iteration honors the step budget. */
  private def regexReplace(s: String, re: JsEngine.JsRegex, repl: Any): String = {
    val m = re.compiled.matcher(s)
    // java.lang.StringBuilder: the Scala one resolves append(s, from, to)
    // to append(Any) and stringifies the tuple
    val out = new java.lang.StringBuilder
    var last = 0
    var go = m.find()
    while (go) {
      tick()
      out.append(s, last, m.start)
      repl match {
        case c: Closure =>
          val groups: Seq[Any] = (1 to m.groupCount).map { g =>
            val v = m.group(g); if (v == null) Undefined else v
          }
          out.append(str(callValue(c,
            (m.group() +: groups) ++ Seq(m.start.toLong, s))))
        case other => out.append(expandRepl(str(other), m))
      }
      last = m.end
      go = re.global && m.find()
    }
    out.append(s, last, s.length)
    out.toString
  }

  /** JS `$`-substitution in a string replacement. An out-of-range group
    * reference stays literal, an unmatched group expands empty. */
  private def expandRepl(r: String, m: java.util.regex.Matcher): String = {
    val out = new StringBuilder
    var i = 0
    while (i < r.length) {
      val c = r.charAt(i)
      if (c == '$' && i + 1 < r.length) {
        val d = r.charAt(i + 1)
        if (d == '$') { out.append('$'); i += 2 }
        else if (d == '&') { out.append(m.group()); i += 2 }
        else if (d.isDigit) {
          val two = if (i + 2 < r.length && r.charAt(i + 2).isDigit)
            (d - '0') * 10 + (r.charAt(i + 2) - '0') else -1
          if (two >= 1 && two <= m.groupCount) {
            out.append(Option(m.group(two)).getOrElse("")); i += 3
          } else {
            val one = d - '0'
            if (one >= 1 && one <= m.groupCount) {
              out.append(Option(m.group(one)).getOrElse("")); i += 2
            } else { out.append(c); i += 1 }
          }
        } else { out.append(c); i += 1 }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  private def typeofString(v: Any): String = v match {
    case null => "object"
    case Undefined => "undefined"
    case _: String => "string"
    case _: java.lang.Boolean => "boolean"
    case _: Long | _: Double => "number"
    case _: Closure | _: Bound => "function"
    case _ => "object"
  }

  /** Deref an accessor slot on READ: call the getter with `this` =
    * the original receiver (not the prototype map the slot was found
    * on). A getter-less accessor reads as undefined, the JS rule. */
  private def deref(recv: Any, v: Any): Any = v match {
    case MiniJs.Accessor(g, _) =>
      if (g == Undefined) Undefined else callValue(g, Seq.empty, recv)
    case other => other
  }

  /** The accessor (if any) that intercepts a WRITE of `name`: walk the
    * chain; the FIRST map containing the key decides — a data property
    * there means a plain own write on the receiver (shadowing, the JS
    * rule), an accessor means the setter runs. Metered per hop. */
  @annotation.tailrec
  private def writeAccessor(o: Any, name: String): Option[MiniJs.Accessor] =
    o match {
      case m: mutable.LinkedHashMap[String @unchecked, Any @unchecked] =>
        m.get(name) match {
          case Some(a: MiniJs.Accessor) => Some(a)
          case Some(_) => None
          case None => m match {
            case j: JsObj => tick(); writeAccessor(j.proto, name)
            case _ => None
          }
        }
      case _ => None
    }

  /** Own-then-inherited static lookup over the class desugar's
    * [[MiniJs.StaticParentKey]] chain; Undefined when absent. Metered
    * per hop (an extends chain is script-length-bounded but cyclic
    * assignment through the raw key must not spin free). */
  private def closureStatic(c: Closure, name: String): Any = {
    var cur = c
    while (true) {
      cur.propsIfAny.flatMap(_.get(name)) match {
        case Some(v) => return v
        case None =>
          cur.propsIfAny.flatMap(_.get(MiniJs.StaticParentKey)) match {
            case Some(p: Closure) => tick(); cur = p
            case _ => return Undefined
          }
      }
    }
    Undefined
  }

  private def readMember(recv: Any, name: String): Any = recv match {
    case m: mutable.LinkedHashMap[String @unchecked, Any @unchecked] =>
      deref(m, memberLookup(m, name))
    case c: Closure => name match {
      case "prototype" => prototypeOf(c)
      case "name" => c.name
      case "length" => c.params.size.toLong
      case other =>
        // walk the static-inheritance chain (B.__proto__ = A); the
        // accessor deref keeps the DERIVED class as receiver, the JS
        // super-get rule
        deref(c, closureStatic(c, other))
    }
    case _: Bound => Undefined
    case a: mutable.ArrayBuffer[_] if name == "length" => a.length.toLong
    case s: String if name == "length" => s.length.toLong
    case r: JsEngine.JsRegex => name match {
      case "source" => r.source
      case "flags" => r.flags
      case "global" => r.global
      case _ => Undefined
    }
    case h: HostObject => h.prop(name).getOrElse(
      throw new JsException(s"host property '$name' must be called as a method"))
    case null => throw new JsException(s"cannot read '$name' of null")
    case Undefined => throw new JsException(s"cannot read '$name' of undefined")
    case _ => Undefined
  }

  private def writeMember(recv: Any, name: String, v: Any): Unit = recv match {
    case m: mutable.LinkedHashMap[String @unchecked, Any @unchecked] =>
      // a chain accessor intercepts the write (setter runs, this =
      // receiver) — unless the VALUE is itself an Accessor (the class
      // desugar installing a slot, always an own write). A getter-only
      // slot throws, the strict-mode rule.
      if (v.isInstanceOf[MiniJs.Accessor]) m(name) = v
      else writeAccessor(m, name) match {
        case Some(MiniJs.Accessor(_, s)) =>
          if (s == Undefined)
            throw new JsException(s"cannot set '$name': it has only a getter")
          callValue(s, Seq(v), m): Unit
        case None => m(name) = v
      }
    // `F.prototype = {…}` and statics; assignments are always OWN
    // properties, shadowing the chain — the JS rule (static accessor
    // slots intercept like instance ones; no static inheritance walk)
    case c: Closure =>
      // static accessor slots intercept along the static-inheritance
      // chain (first class DEFINING the key decides — an own/inherited
      // data property means a plain own write, the shadowing rule).
      // `prototype` is exempt: in JS it is a non-configurable own DATA
      // property of every function — it can never be an accessor, and
      // the class desugar's own wiring must not be interceptable
      if (v.isInstanceOf[MiniJs.Accessor] || name == "prototype")
        c.props(name) = v
      else closureStatic(c, name) match {
        case MiniJs.Accessor(_, s) =>
          if (s == Undefined)
            throw new JsException(s"cannot set '$name': it has only a getter")
          callValue(s, Seq(v), c): Unit
        case _ => c.props(name) = v
      }
    case _ => throw new JsException(s"cannot set '$name' on ${jsToString(recv)}")
  }

  private def readIndex(recv: Any, key: Any): Any = recv match {
    case a: mutable.ArrayBuffer[Any @unchecked] =>
      val i = num(key).toInt
      if (i >= 0 && i < a.length) a(i) else Undefined
    case m: mutable.LinkedHashMap[String @unchecked, Any @unchecked] =>
      deref(m, memberLookup(m, jsToString(key)))
    case s: String =>
      val i = num(key).toInt
      if (i >= 0 && i < s.length) s.charAt(i).toString else Undefined
    case _ => throw new JsException("cannot index " + jsToString(recv))
  }

  private def writeIndex(recv: Any, key: Any, v: Any): Unit = recv match {
    case a: mutable.ArrayBuffer[Any @unchecked] =>
      val i = jsIndex(key)
      // JS treats a[-1] = v as a plain property write, not an error — a
      // data-dependent negative index (indexOf miss - 1) must not kill
      // the task; the property is simply invisible to length/iteration,
      // which a silent no-op models. Sparse growth is host-side work, so
      // it honors the same step budget as interpreted code (tick per
      // appended slot); an absurd index is a sandbox violation outright —
      // `a[2e9] = 1` must not allocate a 2B-element buffer in one step.
      if (i < 0) return
      if (i >= JsEngine.MaxArrayLength)
        throw new SandboxViolation(
          s"array index $i out of sandbox bounds (max ${JsEngine.MaxArrayLength})")
      while (a.length <= i) { tick(); a += Undefined }
      a(i.toInt) = v
    case m: mutable.LinkedHashMap[String @unchecked, Any @unchecked] =>
      writeMember(m, jsToString(key), v)
    case _ => throw new JsException("cannot index-assign " + jsToString(recv))
  }

  // ---------- operators ----------

  /** JS ToIntegerOrInfinity for index arguments: NaN → 0, truncate toward
    * zero — never throws regardless of the value's shape. */
  private def jsIndex(v: Any): Long = v match {
    case l: Long => l
    case d: Double => if (java.lang.Double.isNaN(d)) 0L else d.toLong
    case other =>
      val d = num(other); if (java.lang.Double.isNaN(d)) 0L else d.toLong
  }

  private def num(v: Any): Double = v match {
    case l: Long => l.toDouble
    case d: Double => d
    case b: java.lang.Boolean => if (b) 1.0 else 0.0
    case s: String => try s.trim.toDouble catch { case _: Throwable => Double.NaN }
    case null => 0.0
    // numeric contexts (subtraction, comparison) see a date as its
    // epoch millis — `end - start` is the idiomatic duration
    case d: JsEngine.JsDate => if (d.valid) d.ms.toDouble else Double.NaN
    case _ => Double.NaN
  }

  private def str(v: Any): String = v match {
    case s: String => s
    case other => jsToString(other)
  }

  def jsToString(v: Any): String = v match {
    case null => "null"
    case Undefined => "undefined"
    case d: Double =>
      if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString else d.toString
    case a: mutable.ArrayBuffer[Any @unchecked] => a.map(jsToString).mkString(",")
    case m: mutable.LinkedHashMap[_, _] => "[object Object]"
    case d: JsEngine.JsDate => d.call("toString", Nil).toString
    case r: JsEngine.JsRegex => s"/${r.source}/${r.flags}"
    case c: Closure => s"function ${c.name}"
    case _: Bound => "function bound"
    case other => other.toString
  }

  private def truthy(v: Any): Boolean = v match {
    case null | Undefined => false
    case b: java.lang.Boolean => b
    case l: Long => l != 0
    case d: Double => d != 0.0 && !java.lang.Double.isNaN(d)
    case s: String => s.nonEmpty
    case _ => true
  }

  private def bothLong(l: Any, r: Any): Boolean =
    l.isInstanceOf[Long] && r.isInstanceOf[Long]

  private def strictEq(l: Any, r: Any): Boolean = (l, r) match {
    case (null, null) => true
    case (Undefined, Undefined) => true
    case (a, b) if isNum(a) && isNum(b) => num(a) == num(b)
    case (a: String, b: String) => a == b
    case (a: java.lang.Boolean, b: java.lang.Boolean) => a == b
    case (a: AnyRef, b: AnyRef) => a eq b
    case _ => false
  }

  private def isNum(v: Any): Boolean =
    v.isInstanceOf[Long] || v.isInstanceOf[Double]

  private def looseEq(l: Any, r: Any): Boolean = (l, r) match {
    case (null, Undefined) | (Undefined, null) => true
    case (null, null) | (Undefined, Undefined) => true
    case (a, b) if isNum(a) && isNum(b) => num(a) == num(b)
    case (a: String, b) if isNum(b) => num(a) == num(b)
    case (a, b: String) if isNum(a) => num(a) == num(b)
    case (a: java.lang.Boolean, b) => looseEq(if (a) 1L else 0L, b)
    case (a, b: java.lang.Boolean) => looseEq(a, if (b) 1L else 0L)
    case _ => strictEq(l, r)
  }

  private def binop(op: String, l: Any, r: Any): Any = op match {
    case "instanceof" =>
      // walk the instance's prototype chain looking for the
      // constructor's CURRENT .prototype, identity-compared — the JS
      // OrdinaryHasInstance algorithm
      // a bound RHS resolves through the FULL bind chain (real JS
      // recurses OrdinaryHasInstance through BoundTargetFunction — a
      // chained bind must classify like its innermost target)
      val ctor = r match {
        case b: Bound => unwrapBound(b, Seq.empty)._1
        case other => other
      }
      ctor match {
        case c: Closure =>
          val proto = c.propsIfAny.flatMap(_.get("prototype")).orNull
          if (proto == null) false
          else {
            @annotation.tailrec
            def walk(o: Any): Boolean = o match {
              case j: JsObj =>
                tick() // long Object.create chains stay metered
                (j.proto match {
                  case p: AnyRef => p eq proto.asInstanceOf[AnyRef]
                  case _ => false
                }) || walk(j.proto)
              case _ => false
            }
            walk(l)
          }
        case _ =>
          throw new JsException(
            "right-hand side of instanceof is not a script function")
      }
    case "in" =>
      r match {
        case m: mutable.LinkedHashMap[String @unchecked, Any @unchecked] =>
          // own or inherited, like JS `in` (vs hasOwnProperty)
          m.contains(str(l)) || (m match {
            case j: JsObj => memberLookup(j.proto, str(l)) != Undefined
            case _ => false
          })
        case a: mutable.ArrayBuffer[_] =>
          // only a genuine integer index (or 'length') can be present —
          // NaN must NOT coerce to index 0 ('foo' in arr is false)
          l match {
            case s: String =>
              s == "length" ||
                s.toLongOption.exists(i => i >= 0 && i < a.length)
            case n if isNum(n) =>
              val d = num(n)
              !d.isNaN && d.isWhole && d >= 0 && d < a.length
            case _ => false
          }
        case other =>
          throw new JsException(
            s"cannot use 'in' on ${jsToString(other)}")
      }
    case "+" =>
      if (l.isInstanceOf[String] || r.isInstanceOf[String]) str(l) + str(r)
      else if (bothLong(l, r)) l.asInstanceOf[Long] + r.asInstanceOf[Long]
      else num(l) + num(r)
    case "-" =>
      if (bothLong(l, r)) l.asInstanceOf[Long] - r.asInstanceOf[Long]
      else num(l) - num(r)
    case "*" =>
      if (bothLong(l, r)) l.asInstanceOf[Long] * r.asInstanceOf[Long]
      else num(l) * num(r)
    case "/" => num(l) / num(r)
    case "%" =>
      if (bothLong(l, r) && r.asInstanceOf[Long] != 0L)
        l.asInstanceOf[Long] % r.asInstanceOf[Long]
      else num(l) % num(r)
    case "<" => cmp(l, r) < 0
    case "<=" => cmp(l, r) <= 0
    case ">" => cmp(l, r) > 0
    case ">=" => cmp(l, r) >= 0
    case "==" => looseEq(l, r)
    case "!=" => !looseEq(l, r)
    case "===" => strictEq(l, r)
    case "!==" => !strictEq(l, r)
    case other => throw new JsException(s"unsupported operator '$other'")
  }

  private def cmp(l: Any, r: Any): Int = (l, r) match {
    case (a: String, b: String) => a.compareTo(b)
    case _ => java.lang.Double.compare(num(l), num(r))
  }
}

object JsEngine {
  /** Hard cap on sandbox array length: large enough for any event batch a
    * script legitimately builds, far below anything that could OOM an
    * executor in one interpreter step. */
  val MaxArrayLength: Long = 1 << 20

  /** Names the `new` evaluator accepts as built-in constructors when no
    * script binding shadows them. */
  val builtinCtors: Set[String] = Set("Date", "Error", "TypeError",
    "RangeError", "SyntaxError", "RegExp", "Array", "Object")

  /** The Error-family names — `instanceof Error` accepts any of them
    * (the JS subclass relation, flattened to our Error object shape). */
  val errorNames: Set[String] = Set("Error", "TypeError", "RangeError",
    "SyntaxError")

  /** A `new Date(...)` value — epoch millis + validity, UTC semantics
    * for every field accessor (deterministic across executor host
    * zones; the engine documents UTC, not host-local, as its contract).
    * An Invalid Date answers NaN from every numeric method and
    * "Invalid Date" from the string ones, the JS convention — bad
    * event values degrade, never throw. */
  /** Shared ISO formatter — a mapper stringifies a date per ROW; the
    * pattern must not re-parse per call. */
  private val IsoFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")

  final class JsDate(var ms: Long, var valid: Boolean) extends Serializable {
    private def odt =
      java.time.Instant.ofEpochMilli(ms).atOffset(java.time.ZoneOffset.UTC)
    /** JS setter contract: mutate in place, return the new timestamp.
      * All UTC (the engine defines UTC semantics regardless of host
      * zone); a NaN/out-of-bound argument — or setting a field of an
      * Invalid Date — yields the Invalid Date, not an exception. */
    private def set(newMs: => Double): Any = {
      val d = try newMs catch {
        case _: java.time.DateTimeException | _: ArithmeticException =>
          Double.NaN
      }
      if (d.isNaN || math.abs(d) > 8.64e15) { valid = false; Double.NaN }
      else { ms = d.toLong; valid = true; ms }
    }
    /** i-th argument truncated toward zero (ToIntegerOrInfinity), or
      * the default when absent; NaN propagates to the Invalid Date. */
    private def arg(args: Seq[Double], i: Int, dflt: => Double): Double = {
      val v = if (i < args.length) args(i) else dflt
      if (v.isNaN) Double.NaN else v.toLong.toDouble
    }
    private def curMilli: Long = (ms % 1000 + 1000) % 1000
    private def dayStart(o: java.time.OffsetDateTime): Long =
      ms - (o.getHour * 3600000L + o.getMinute * 60000L +
        o.getSecond * 1000L + curMilli)
    private[js] def isoString: String = IsoFmt.format(odt)
    def call(name: String, args: Seq[Double]): Any = name match {
      // the string faces first — each has its own invalid-date form
      // per spec: toString → "Invalid Date", toJSON → null (so JSON
      // shaping degrades), toISOString → a catchable error
      case "toString" => if (valid) isoString else "Invalid Date"
      case "toJSON" => if (valid) isoString else null
      case "toISOString" =>
        if (valid) isoString
        else throw new MiniJs.JsException("toISOString on an Invalid Date")
      // setTime and setFullYear revive an Invalid Date (the JS
      // contracts: setTime outright; setFullYear substitutes t = +0,
      // ES5.1 §15.9.5.40 — the build-a-date-from-parts idiom), so both
      // sit before the invalid guard; the other field setters on an
      // invalid date stay NaN (fields of NaN time are NaN)
      case "setTime" => set(arg(args, 0, Double.NaN))
      case "setFullYear" | "setUTCFullYear" =>
        val base = // fields (incl. time-of-day) of the current time, or
          // of epoch 0 when invalid — withDayOfMonth/withMonth/withYear
          // all preserve the time-of-day, so one formula serves both
          if (valid) odt
          else java.time.Instant.ofEpochMilli(0L)
            .atOffset(java.time.ZoneOffset.UTC)
        val y0 = arg(args, 0, Double.NaN)
        val m0 = arg(args, 1, (base.getMonthValue - 1).toDouble)
        if (y0.isNaN || m0.isNaN) set(Double.NaN)
        else set(base.withDayOfMonth(1).withMonth(1).withYear(y0.toInt)
          .plusMonths(m0.toLong).toInstant.toEpochMilli +
          (arg(args, 2, base.getDayOfMonth) - 1) * 86400000d)
      case _ if !valid => Double.NaN
      case "getTime" | "valueOf" => ms
      case "getFullYear" | "getUTCFullYear" => odt.getYear.toLong
      case "getMonth" | "getUTCMonth" => (odt.getMonthValue - 1).toLong
      case "getDate" | "getUTCDate" => odt.getDayOfMonth.toLong
      case "getDay" | "getUTCDay" => (odt.getDayOfWeek.getValue % 7).toLong
      case "getHours" | "getUTCHours" => odt.getHour.toLong
      case "getMinutes" | "getUTCMinutes" => odt.getMinute.toLong
      case "getSeconds" | "getUTCSeconds" => odt.getSecond.toLong
      case "getMilliseconds" | "getUTCMilliseconds" => curMilli
      case "getTimezoneOffset" => 0L
      // mutating setters (all UTC here, so the plain and UTC forms
      // coincide): JS overflow semantics fall out of plain arithmetic —
      // setDate(0) is the last day of the previous month, setHours(25)
      // rolls into the next day, setMonth(12) rolls the year. Each case
      // derives the field view ONCE (`odt` allocates per evaluation and
      // these run per event row).
      case "setHours" | "setUTCHours" =>
        val o = odt
        set(dayStart(o) + arg(args, 0, Double.NaN) * 3600000d +
          arg(args, 1, o.getMinute) * 60000d +
          arg(args, 2, o.getSecond) * 1000d + arg(args, 3, curMilli))
      case "setMinutes" | "setUTCMinutes" =>
        val o = odt
        set(dayStart(o) + o.getHour * 3600000d +
          arg(args, 0, Double.NaN) * 60000d +
          arg(args, 1, o.getSecond) * 1000d + arg(args, 2, curMilli))
      case "setSeconds" | "setUTCSeconds" =>
        val o = odt
        set(dayStart(o) + o.getHour * 3600000d + o.getMinute * 60000d +
          arg(args, 0, Double.NaN) * 1000d + arg(args, 1, curMilli))
      case "setMilliseconds" | "setUTCMilliseconds" =>
        val o = odt
        set(dayStart(o) + o.getHour * 3600000d + o.getMinute * 60000d +
          o.getSecond * 1000d + arg(args, 0, Double.NaN))
      case "setDate" | "setUTCDate" =>
        set(odt.withDayOfMonth(1).toInstant.toEpochMilli +
          (arg(args, 0, Double.NaN) - 1) * 86400000d)
      case "setMonth" | "setUTCMonth" =>
        val o = odt
        val m0 = arg(args, 0, Double.NaN)
        if (m0.isNaN) set(Double.NaN)
        else set(o.withDayOfMonth(1).withMonth(1).plusMonths(m0.toLong)
          .toInstant.toEpochMilli +
          (arg(args, 1, o.getDayOfMonth) - 1) * 86400000d)
      case other =>
        throw new MiniJs.JsException(s"Date.$other is not supported")
    }
  }

  /** Parse the formats mapper scripts actually send: ISO instants
    * (with Z or offset), ISO local date-times (space or T separator,
    * optional millis), bare dates, and a plain epoch-millis digit
    * string. UTC for any form without an explicit offset. */
  private[js] def parseDateMs(s: String): Option[Long] = {
    val t = s.trim
    if (t.isEmpty) return None
    if (t.matches("-?\\d{10,}")) return scala.util.Try(t.toLong).toOption
    val asInstant = scala.util.Try(java.time.Instant.parse(t)).toOption
      .orElse(scala.util.Try(
        java.time.OffsetDateTime.parse(t).toInstant).toOption)
    val asLocal = asInstant.orElse {
      val norm = if (t.contains('T')) t else t.replaceFirst(" ", "T")
      scala.util.Try(java.time.LocalDateTime.parse(norm)
        .toInstant(java.time.ZoneOffset.UTC)).toOption
    }
    asLocal.orElse(scala.util.Try(java.time.LocalDate.parse(t)
        .atStartOfDay.toInstant(java.time.ZoneOffset.UTC)).toOption)
      .map(_.toEpochMilli)
  }

  /** `Date.UTC(y, m, d, h, min, s, ms)` / the multi-arg constructor:
    * 0-based month, missing fields default per JS (day 1, rest 0).
    * Out-of-range fields ROLL OVER like JS (month 12 → January next
    * year, second 60 → next minute) by adding each field onto the
    * year's start; a NaN field or a value outside the calendar's
    * representable range is the Invalid Date (None), never an escaped
    * java.time exception a script catch could not see. */
  private[js] def utcFieldsMs(fields: Seq[Double]): Option[Long] = {
    if (fields.exists(_.isNaN)) return None
    def f(i: Int, dflt: Long): Long =
      if (fields.isDefinedAt(i)) fields(i).toLong else dflt
    // MakeFullYear: two-digit years mean 19xx (new Date(99, 0) is
    // 1999, the JS back-compat rule)
    val y0 = f(0, 1970L)
    val year = if (y0 >= 0L && y0 <= 99L) y0 + 1900L else y0
    // JS's representable range ends at year ±275760; beyond it the
    // Int cast below could wrap into a silently-wrong valid year
    if (math.abs(year) > 300000L) return None
    try {
      val ms = Math.addExact(
        java.time.LocalDateTime.of(year.toInt, 1, 1, 0, 0, 0)
          .plusMonths(f(1, 0L))
          .plusDays(f(2, 1L) - 1)
          .plusHours(f(3, 0L))
          .plusMinutes(f(4, 0L))
          .plusSeconds(f(5, 0L))
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli, f(6, 0L))
      // JS time values are bounded at ±8.64e15 ms; outside is Invalid
      if (math.abs(ms) > 8640000000000000L) None else Some(ms)
    } catch {
      case _: java.time.DateTimeException | _: ArithmeticException => None
    }
  }

  private[js] val UriUnreserved: Set[Char] =
    (('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9')).toSet ++ "-_.!~*'()"

  /** Percent-encode the UTF-8 bytes of every CODE POINT outside `keep`
    * (uppercase hex, the JS convention). Iterating code points keeps
    * astral characters (emoji, rare CJK) as their real 4-byte escapes
    * instead of mangling the surrogate halves to '?'; a LONE surrogate
    * is the JS URIError. */
  private[js] def percentEncode(s: String, keep: Set[Char]): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val n = Character.charCount(cp)
      if (n == 1 && Character.isSurrogate(s.charAt(i)))
        throw new MiniJs.JsException("URIError: URI malformed")
      if (n == 1 && keep(s.charAt(i))) sb.append(s.charAt(i))
      else new String(Character.toChars(cp))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .foreach(b => sb.append(f"%%${b & 0xff}%02X"))
      i += n
    }
    sb.toString
  }

  /** The reserved set `decodeURI` must leave ENCODED (decoding %2F
    * would change a URL's path structure); `decodeURIComponent`
    * decodes everything. */
  private val ReservedBytes: Set[Int] = "#$&+,/:;=?@".map(_.toInt).toSet

  /** Decode %XX sequences over UTF-8. JS contract throughout: strict
    * hex only (no signs), an incomplete escape or an invalid UTF-8
    * byte run throws the catchable URIError — never a silent U+FFFD.
    * Characters OUTSIDE escapes pass through verbatim (even lone
    * surrogates — JS only validates the escape sequences), so the
    * output is spliced from raw chars and strictly-decoded escape
    * runs, not one lossy byte stream. */
  private[js] def percentDecode(s: String,
      preserveReserved: Boolean = false): String = {
    def hexVal(c: Char): Int =
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'A' && c <= 'F') c - 'A' + 10
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else throw new MiniJs.JsException("URIError: URI malformed")
    val sb = new StringBuilder
    val run = new java.io.ByteArrayOutputStream
    def flushRun(): Unit = if (run.size() > 0) {
      val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      try sb.append(
        dec.decode(java.nio.ByteBuffer.wrap(run.toByteArray)).toString)
      catch {
        case _: java.nio.charset.CharacterCodingException =>
          throw new MiniJs.JsException("URIError: URI malformed")
      }
      run.reset()
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%') {
        if (i + 2 >= s.length)
          throw new MiniJs.JsException("URIError: URI malformed")
        val b = hexVal(s.charAt(i + 1)) * 16 + hexVal(s.charAt(i + 2))
        if (preserveReserved && ReservedBytes(b)) {
          flushRun()
          sb.append('%').append(s.charAt(i + 1)).append(s.charAt(i + 2))
        } else run.write(b)
        i += 3
      } else {
        flushRun()
        sb.append(c)
        i += 1
      }
    }
    flushRun()
    sb.toString
  }

  /** A compiled regex literal value. JS flags map onto Java: `i` →
    * CASE_INSENSITIVE+UNICODE_CASE, `m` → MULTILINE, `s` → DOTALL; `g`
    * is method-level (match/replace iterate every match). `lastIndex`
    * statefulness is not modeled — each test/exec scans from 0, the
    * stateless usage every reference mapper script has. */
  final class JsRegex(val source: String, val flags: String,
      val compiled: java.util.regex.Pattern) extends Serializable {
    def global: Boolean = flags.contains('g')
  }

  /** Pattern-compile cache: mapper ASTs are evaluated once per row, so
    * an uncached literal would recompile per event. Bounded — past the
    * cap, compile uncached rather than grow without limit. */
  private val regexCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()

  private[js] def regexValue(pattern: String, flags: String): JsRegex = {
    import MiniJs.{JsException, SandboxViolation}
    if (pattern.length > 1024)
      throw new SandboxViolation("regex pattern too long (max 1024)")
    var f = 0
    flags.foreach {
      case 'g' | 'u' | 'y' => ()
      case 'i' => f |= java.util.regex.Pattern.CASE_INSENSITIVE |
        java.util.regex.Pattern.UNICODE_CASE
      case 'm' => f |= java.util.regex.Pattern.MULTILINE
      case 's' => f |= java.util.regex.Pattern.DOTALL
      case other => throw new JsException(s"unsupported regex flag '$other'")
    }
    val key = flags + "\u0000" + pattern
    val cached = regexCache.get(key)
    val p =
      if (cached != null) cached
      else {
        val compiled =
          try java.util.regex.Pattern.compile(pattern, f)
          catch { case e: java.util.regex.PatternSyntaxException =>
            throw new JsException(s"invalid regex /$pattern/: ${e.getDescription}")
          }
        if (regexCache.size < 512) regexCache.put(key, compiled)
        compiled
      }
    new JsRegex(pattern, flags, p)
  }
}

/** JSON bridge for the sandbox's `JSON` global (Jackson-backed). */
private[js] object JsJson {
  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
  import scala.jdk.CollectionConverters._

  private val mapper = new ObjectMapper()

  /** `getterDeref` resolves an own accessor slot through its getter
    * (real-JS stringify semantics); the engine's JSON.stringify passes
    * its metered deref. A null resolver (the mapper-output paths, where
    * no engine is in scope) omits accessor properties — the same shape
    * those paths always produced for prototype accessors. */
  def stringify(v: Any): String = stringify(v, null)

  def stringify(v: Any, getterDeref: (Any, MiniJs.Accessor) => Any): String =
    mapper.writeValueAsString(toJackson(v, getterDeref))

  private def toJackson(v: Any, gd: (Any, MiniJs.Accessor) => Any): Any = v match {
    case Undefined | null => null
    case m: mutable.LinkedHashMap[String @unchecked, Any @unchecked] =>
      val o = new java.util.LinkedHashMap[String, Any]()
      // JS omits function- and undefined-valued properties from objects
      // (they become null only inside arrays); letting a Closure reach
      // Jackson would be an uncatchable empty-bean failure
      m.foreach { case (k, x) => x match {
        case _: Closure | _: Bound | Undefined => ()
        case acc: MiniJs.Accessor =>
          if (gd != null) gd(m, acc) match {
            case Undefined | _: Closure | _: Bound => ()
            case got => o.put(k, toJackson(got, gd))
          }
        case _ => o.put(k, toJackson(x, gd))
      } }
      o
    case a: mutable.ArrayBuffer[Any @unchecked] =>
      val l = new java.util.ArrayList[Any]()
      a.foreach {
        case _: Closure | _: Bound | _: MiniJs.Accessor => l.add(null)
        case x => l.add(toJackson(x, gd))
      }
      l
    // JSON.stringify(date) is its toJSON — the ISO string, or null for
    // an Invalid Date; passing the raw class through would hit
    // Jackson's empty-bean failure, uncatchable from a script
    case d: JsEngine.JsDate => if (d.valid) d.isoString else null
    // a regex has no JSON representation: `{}` per JS
    case _: JsEngine.JsRegex => new java.util.LinkedHashMap[String, Any]()
    case other => other
  }

  /** Malformed JSON surfaces as a catchable script error (the Nashorn
    * SyntaxError contract), never a raw Jackson exception that would
    * sail past the script's own `catch`. */
  def parse(s: String): Any =
    try fromNode(mapper.readTree(s))
    catch { case e: Exception =>
      throw new MiniJs.JsException(s"JSON.parse: ${e.getMessage}")
    }

  private def fromNode(n: JsonNode): Any =
    if (n == null || n.isNull) null
    else if (n.isBoolean) n.asBoolean()
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isTextual) n.asText()
    else if (n.isArray) mutable.ArrayBuffer(n.elements().asScala.map(fromNode).toSeq: _*)
    else {
      val o = mutable.LinkedHashMap.empty[String, Any]
      n.properties().asScala.foreach(e => o(e.getKey) = fromNode(e.getValue))
      o
    }
}
