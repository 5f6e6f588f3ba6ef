package graft.config

import graft.serial._

/** Documented, defaulted, path-named option fields — the Spark-native
  * docrecords analog (docrecords/src/Data/DocRecord.hs:240-247,
  * 657-674): each field carries a path, a typed default, and a
  * docstring; values resolve by source priority Default < spec file <
  * CLI (OptParse.hs:50-61, DocRecord.hs:220-233).
  */
sealed trait OptValue {
  def render: String = this match {
    case OptStr(s)  => s
    case OptNum(n)  => JNum(n).render
    case OptBool(b) => b.toString
    case OptList(l) => l.map(_.render).mkString(",")
  }

  /** The value as a number: an OptNum as is, anything else parsed. */
  def num: Double = this match {
    case OptNum(n) => n
    case v         => v.render.toDouble
  }

  /** The value as a flag: an OptBool as is, anything else parsed. */
  def bool: Boolean = this match {
    case OptBool(b) => b
    case v          => v.render.toBoolean
  }
}
final case class OptStr(s: String) extends OptValue
final case class OptNum(n: Double) extends OptValue
final case class OptBool(b: Boolean) extends OptValue
final case class OptList(l: Seq[OptValue]) extends OptValue

object OptValue {
  def fromJson(j: JValue): OptValue = j match {
    case JStr(s)  => OptStr(s)
    case JNum(n)  => OptNum(n)
    case JBool(b) => OptBool(b)
    case JArr(xs) => OptList(xs.map(fromJson))
    case JObj(_)  => OptStr(j.render)
    case JNull    => OptStr("")
  }
  def toJson(v: OptValue): JValue = v match {
    case OptStr(s)  => JStr(s)
    case OptNum(n)  => JNum(n)
    case OptBool(b) => JBool(b)
    case OptList(l) => JArr(l.map(toJson))
  }
}

/** One documented field: dotted path (e.g. "users.range"), default,
  * doc. `required` fields have no default (reference `fieldNoDef`).
  * Boolean fields should always declare an OptBool default (absence
  * naturally means false) — the `--flag`/`--no-flag` shorthands key
  * off the default's type. */
final case class OptField(
    path: String,
    default: Option[OptValue],
    doc: String = "") {
  def flagName: String = "--" + path.replace('.', '-')
}

/** Provenance of a resolved value (reference `SourceTag`). */
sealed trait OptSource
object OptSource {
  case object Default extends OptSource
  case object SpecFile extends OptSource
  case object Cli extends OptSource
}

/** A schema of option fields + resolution / documentation / template
  * generation (reference `getOptions` OPT:68-84, `showDocumentation`
  * DocRecord.hs:408-426, `parseRecFromCLI` OptParse.hs:145-156). */
final case class OptionsSchema(fields: Seq[OptField]) {

  /** Resolve values: defaults, overlaid with the spec's `data:`/
    * `options:` JSON object (dotted-path lookup), overlaid with CLI
    * `--path value` flags. Highest priority wins. */
  def resolve(spec: Option[JValue], cliArgs: Seq[String])
      : Map[String, (OptValue, OptSource)] =
    resolveLayers(spec, cliArgs).toMap

  /** The full override chain per field, in priority order (defaults,
    * then spec, then CLI left-to-right) — [[resolve]] is its last-
    * wins collapse; [[typeChangeWarnings]] walks the steps. */
  private def resolveLayers(spec: Option[JValue], cliArgs: Seq[String])
      : Seq[(String, (OptValue, OptSource))] = {
    def lookup(j: JValue, path: Seq[String]): Option[JValue] =
      path.foldLeft(Option(j))((acc, seg) => acc.flatMap(_ \ seg))
    val fromDefaults = fields.flatMap(f =>
      f.default.map(d => f.path -> (d, OptSource.Default: OptSource)))
    val fromSpec = for {
      s <- spec.toSeq
      f <- fields
      v <- lookup(s, f.path.split('.').toSeq)
      if v != JNull
    } yield f.path -> (OptValue.fromJson(v), OptSource.SpecFile: OptSource)
    // CLI flags in one pass, position-tagged so the LAST occurrence on
    // the command line wins (--no-dryRun --dryRun true => true), with
    // the boolean shorthands (OptParse.hs:108-121): --no-x => false
    // and bare --x => true, both only for DECLARED BOOLEAN fields — a
    // --no-x against a numeric field must not inject a type-invalid
    // false.
    def isBool(f: OptField): Boolean =
      f.default.exists(_.isInstanceOf[OptBool])
    // a following token is this flag's value unless it is itself a
    // flag; negative numbers ("-5") still count as values
    def looksLikeValue(s: String): Boolean =
      !s.startsWith("-") || s.matches("-[0-9.].*")
    // flags resolve by matching each field's RENDERED flagName — a
    // lossless comparison (mapping '-' back to '.' would corrupt any
    // field whose path legitimately contains a hyphen, and '--no-'
    // would shadow fields whose path starts with "no.")
    val fromCli = cliArgs.zipWithIndex.flatMap { case (flag, i) =>
      if (!flag.startsWith("--")) None
      else {
        val boolOff = fields.find(f => isBool(f) &&
          flag == "--no-" + f.flagName.drop(2))
        val named = fields.find(_.flagName == flag)
        (boolOff, named) match {
          case (Some(f), _) =>
            Some(i -> (f.path -> (OptBool(false): OptValue,
              OptSource.Cli: OptSource)))
          case (None, Some(f))
              if i + 1 < cliArgs.length && looksLikeValue(cliArgs(i + 1)) =>
            Some(i -> (f.path -> (OptValue.fromJson(
              Yaml.scalar(cliArgs(i + 1))), OptSource.Cli: OptSource)))
          case (None, Some(f)) if isBool(f) =>
            Some(i -> (f.path -> (OptBool(true): OptValue,
              OptSource.Cli: OptSource)))
          case _ => None
        }
      }
    }.sortBy(_._1).map(_._2)
    fromDefaults ++ fromSpec ++ fromCli
  }

  /** Warnings for overrides that CHANGE a declared value's type
    * (reference ConfigurationReader.hs:134-151: "Overriding a string
    * with a number") — a spec or CLI value of a different shape than
    * what it replaces is almost always a config typo (`--batches two`,
    * a YAML scalar where a list was meant), and it previously coerced
    * silently. Same-type overrides stay silent. */
  def typeChangeWarnings(spec: Option[JValue], cliArgs: Seq[String])
      : Seq[String] = {
    def tn(v: OptValue): String = v match {
      case _: OptStr  => "a string"
      case _: OptNum  => "a number"
      case _: OptBool => "a bool"
      case _: OptList => "an array"
    }
    def sn(s: OptSource): String = s match {
      case OptSource.Default  => "default"
      case OptSource.SpecFile => "spec"
      case OptSource.Cli      => "CLI"
    }
    val byPath = resolveLayers(spec, cliArgs).groupBy(_._1)
    fields.flatMap { f =>
      byPath.getOrElse(f.path, Nil).map(_._2)
        .sliding(2).collect {
          case Seq((a, sa), (b, sb)) if tn(a) != tn(b) =>
            s"'${f.path}': ${sn(sb)} override replaces the ${sn(sa)} " +
              s"value (${tn(a)}) with ${tn(b)}"
        }.toSeq
    }
  }

  /** Spec keys that match no declared field — surfaced as warnings so
    * a typo'd option doesn't silently fall back to its default
    * (reference YAML/default merge warnings, CLI.hs:377-391). */
  def unknownKeys(spec: JValue): Seq[String] = {
    def walk(j: JValue, prefix: Seq[String]): Seq[Seq[String]] = j match {
      case JObj(fs) => fs.flatMap { case (k, v) => walk(v, prefix :+ k) }
      case _        => Seq(prefix)
    }
    val declared = fields.map(_.path).toSet
    // a leaf is known iff it IS a declared path or sits UNDER a
    // declared (object-valued) path; a scalar at a strict PREFIX of a
    // declared path (users: "x" vs declared users.range) is exactly
    // the unreadable-typo class this warning exists for
    walk(spec, Nil).map(_.mkString("."))
      .filterNot(p => declared.exists(d => d == p || p.startsWith(d + ".")))
  }

  /** Resolve, failing on required fields that never got a value. */
  def resolveStrict(spec: Option[JValue], cliArgs: Seq[String])
      : Map[String, OptValue] = {
    val r = resolve(spec, cliArgs)
    val missing = fields.filter(f => !r.contains(f.path))
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"missing required options: ${missing.map(_.path).mkString(", ")}")
    r.map { case (k, (v, _)) => k -> v }
  }

  /** `--help`-style field docs. */
  def documentation: String =
    fields.map { f =>
      val d = f.default.map(v => s" (default: ${v.render})").getOrElse(" (required)")
      f"  ${f.flagName}%-28s ${f.doc}$d"
    }.mkString("\n")

  /** Default config template body (write-config-template). Dotted
    * field paths become NESTED objects — the shape `resolve`'s
    * segment-wise lookup reads back, so the emitted template
    * round-trips (a flat "a.b" key would be silently ignored on the
    * way back in). */
  def templateJson: JValue = {
    def insert(obj: Seq[(String, JValue)], path: List[String],
               v: JValue): Seq[(String, JValue)] = path match {
      case last :: Nil => obj :+ (last -> v)
      case head :: rest =>
        obj.find(_._1 == head) match {
          case Some((_, JObj(inner))) => obj.map {
            case (k, o) =>
              if (k == head) k -> JObj(insert(inner, rest, v)) else (k, o)
          }
          case _ => obj :+ (head -> JObj(insert(Nil, rest, v)))
        }
      case Nil => obj
    }
    JObj(fields.foldLeft(Seq.empty[(String, JValue)]) { (acc, f) =>
      insert(acc, f.path.split('.').toList,
        f.default.map(OptValue.toJson).getOrElse(JNull))
    })
  }
}
