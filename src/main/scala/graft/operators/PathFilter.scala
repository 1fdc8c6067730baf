package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Path include/exclude filtering with the reference watcher's semantics
  * (internal/watcher/watcher.go:213-275, util.go):
  *
  *  - glob patterns use Go `filepath.Match` semantics: `*` and `?` never
  *    cross a `/`, `[...]` classes with ranges and `^` negation, `\`
  *    escapes; a glob is tried against the basename AND the full path
  *  - a non-glob include that is an existing directory (or ends with `/`)
  *    includes everything under it — UNLESS any "specific" include (a
  *    glob, explicit file, or non-existent path) is present, in which case
  *    broad directory includes are ignored as filters
  *    (watcher.go:244-252 — "specific includes override broad dirs")
  *  - a non-glob, non-directory include matches the exact cleaned path or
  *    the exact basename
  *  - excludes match basename or full path; include first, then exclude
  *    (watcher.go:173-179); an empty include list admits everything
  *
  * Patterns are config constants, so each is compiled ONCE into a
  * [[PathFilter.Compiled]] plan; the driver-side matcher (manifest
  * filtering, the walk analogue) and the Column builder (filtering a
  * distributed `src_file` column — codegen'd `rlike`/`startsWith`) consume
  * the same plan, so the two cannot drift.
  *
  * Directory-likeness needs a stat (Go uses os.Stat, watcher.go:246); the
  * `isDir` function injects it — [[PathFilter.isDir]] for every real
  * path, so config loading, validation and `Pipeline.run` never disagree
  * about what an include names.
  */
object PathFilter {

  def hasMeta(s: String): Boolean = s.exists(c => c == '*' || c == '?' || c == '[')

  /** Lexical path clean, the `filepath.Clean` subset that matters for
    * pattern normalization: collapse `//`, drop `.` segments, resolve
    * `..`, strip the trailing slash. (util.go cleans both patterns and
    * candidate paths; manifest paths here are produced clean.)
    */
  def clean(p: String): String = {
    if (p.isEmpty) return "."
    val abs = p.startsWith("/")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    p.split("/").foreach {
      case "" | "." =>
      case ".." =>
        if (out.nonEmpty && out.last != "..") out.remove(out.length - 1)
        else if (!abs) out += ".."
      case seg => out += seg
    }
    val body = out.mkString("/")
    if (abs) "/" + body
    else if (body.isEmpty) "."
    else body
  }

  /** Go `filepath.Match` pattern → anchored Java/RE2 regex (`*`/`?` stop at
    * `/`; `[...]` classes pass through with `^` negation; `\` escapes).
    * Malformed classes throw, mirroring Go's ErrBadPattern.
    */
  def globToRegex(pattern: String): String = {
    val sb = new StringBuilder("^")
    var i = 0
    val n = pattern.length
    while (i < n) {
      pattern.charAt(i) match {
        case '*' => sb.append("[^/]*")
        case '?' => sb.append("[^/]")
        case '\\' =>
          require(i + 1 < n, s"bad pattern (trailing backslash): $pattern")
          i += 1
          sb.append(java.util.regex.Pattern.quote(pattern.charAt(i).toString))
        case '[' =>
          // scan the class body honoring \-escapes: an escaped ']' must NOT
          // terminate the class (Go getEsc semantics), and escaped chars
          // enter the body UNESCAPED before being re-escaped for the regex
          var j = i + 1
          val neg = j < n && pattern.charAt(j) == '^'
          if (neg) j += 1
          // body chars carry their escapedness: an escaped '-' is the
          // LITERAL '-' in Go (getEsc strips the backslash before the
          // range check), so it must re-escape to \- in the regex rather
          // than survive as a range operator
          val body = scala.collection.mutable.ArrayBuffer.empty[(Char, Boolean)]
          var closed = false
          while (j < n && !closed) {
            pattern.charAt(j) match {
              case ']' if body.nonEmpty => closed = true
              case ']' =>
                // Go's getEsc rejects a class whose first body char is an
                // unescaped ']' (ErrBadPattern) — it must be written "[\]]"
                require(false, s"bad pattern (unescaped ']' opens class body): $pattern")
              case '\\' =>
                require(j + 1 < n, s"bad pattern (trailing backslash): $pattern")
                body += ((pattern.charAt(j + 1), true))
                j += 2
              case ch => body += ((ch, false)); j += 1
            }
          }
          require(closed, s"bad pattern (unterminated class): $pattern")
          // Go class grammar parity (Match's '[' loop + getEsc): the body
          // is a sequence of `lo` or `lo-hi` items, and NEITHER endpoint
          // may be an unescaped '-' — so "[-a]", "[a-]", "[a-b-c]" and
          // "[a--b]" are all ErrBadPattern, never literals or Java-only
          // regex semantics
          locally {
            def unescapedDash(i: Int): Boolean =
              body(i)._1 == '-' && !body(i)._2
            var i = 0
            while (i < body.length) {
              require(!unescapedDash(i),
                s"bad pattern (unescaped '-' outside a range): $pattern")
              i += 1
              if (i < body.length && unescapedDash(i)) { // range operator
                i += 1
                require(i < body.length && !unescapedDash(i),
                  s"bad pattern (unescaped '-' outside a range): $pattern")
                i += 1
              }
            }
          }
          val chars = body.iterator.map { case (c, escaped) =>
            // keep unescaped '-' as a range operator; escape everything
            // else that is regex-significant (incl. escaped '-')
            if (c == '-' && !escaped) "-"
            else if (c.isLetterOrDigit) c.toString
            else "\\" + c
          }.mkString
          sb.append(if (neg) s"[^$chars]" else s"[$chars]")
          i = j
        case c => sb.append(java.util.regex.Pattern.quote(c.toString))
      }
      i += 1
    }
    sb.append("$").toString
  }

  // ------------------------------------------------------------ compiled plans

  sealed trait Pat
  /** Broad directory include: everything under `dir` (ignored when the
    * spec has specific includes).
    */
  final case class DirPat(dir: String) extends Pat
  /** Exact file include: full cleaned path or basename equality. */
  final case class ExactPat(path: String) extends Pat
  /** Glob: anchored regex tried against basename and full path. */
  final case class GlobPat(regex: String) extends Pat

  final case class Compiled(includes: Seq[Pat], excludes: Seq[GlobPat],
      hasSpecific: Boolean)

  /** The one directory test: a stat through the Hadoop FileSystem of
    * `conf`, so a scheme-qualified include (file://, hdfs://, s3a://)
    * classifies like a plain local path. A path that cannot be stat'ed is
    * not a directory.
    */
  def isDir(conf: org.apache.hadoop.conf.Configuration): String => Boolean = p =>
    try {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(conf).getFileStatus(hp).isDirectory
    } catch { case _: Exception => false }

  /** Compile include/exclude pattern lists (watcher.go:213-239 pattern
    * classification). `isDir` plays os.Stat's role.
    */
  def compile(include: Seq[String], exclude: Seq[String],
      isDir: String => Boolean): Compiled = {
    val pats = include.map { pattern =>
      val cp = clean(pattern)
      if (hasMeta(cp)) GlobPat(globToRegex(cp))
      else if (isDir(cp) || pattern.endsWith("/")) DirPat(cp)
      else ExactPat(cp)
    }
    // specific = any glob, explicit file, or non-existent path include —
    // note a NON-EXISTENT trailing-slash include is dir-like for matching
    // (ignored as a filter) yet still "specific" (its stat fails), exactly
    // as in Go where hasSpecificIncludes stats independently of the
    // trailing-separator dir-likeness check (watcher.go:215-227 vs 246)
    val hasSpecific = include.exists { pattern =>
      val cp = clean(pattern)
      hasMeta(cp) || !isDir(cp)
    }
    Compiled(pats, exclude.map(p => GlobPat(globToRegex(p))), hasSpecific)
  }

  private def base(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** Driver-side matcher over one path (the walk-filter analogue). */
  def matches(c: Compiled, path: String): Boolean = {
    val b = base(path)
    val included = c.includes.isEmpty || c.includes.exists {
      case DirPat(dir) =>
        !c.hasSpecific && path != dir && path.startsWith(dir + "/")
      case ExactPat(p) => clean(path) == p || b == p
      case GlobPat(re) => b.matches(re) || path.matches(re)
    }
    included && !c.excludes.exists(g => b.matches(g.regex) || path.matches(g.regex))
  }

  /** The same plan as a Column predicate over a path column (manifest
    * tables / `src_file`): pure `rlike`/`startsWith`/equality — all
    * codegen'd, all pushdown-friendly.
    */
  def column(c: Compiled, path: Column): Column = {
    val b = substring_index(path, "/", -1)
    val included =
      if (c.includes.isEmpty) lit(true)
      else c.includes.map {
        case DirPat(dir) =>
          if (c.hasSpecific) lit(false)
          else path =!= dir && path.startsWith(dir + "/")
        case ExactPat(p) => path === p || b === p
        case GlobPat(re) => b.rlike(re) || path.rlike(re)
      }.reduce(_ || _)
    val excluded =
      if (c.excludes.isEmpty) lit(false)
      else c.excludes.map(g => b.rlike(g.regex) || path.rlike(g.regex)).reduce(_ || _)
    included && !excluded
  }

  // ------------------------------------------------------------ scan roots + overlap

  /** Deepest non-meta directory prefix of a glob (util.go:25-56).
    *
    * DOCUMENTED DIVERGENCE: for a root-level glob ("*.log" anchored at
    * "/") this returns "/" where the reference's TrimSuffix loop empties the path
    * and falls back to "." — scanning the filesystem root is the
    * semantically correct walk root for an absolute pattern, while "."
    * would silently scan the process CWD. Pinned in PathFilterSpec.
    */
  def deriveGlobRoot(pattern: String): String = {
    if (pattern.isEmpty) return ""
    var p = clean(pattern)
    if (!hasMeta(p)) return p
    while (p.nonEmpty && p != "/") {
      val slash = p.lastIndexOf('/')
      val (dir, last) = if (slash < 0) ("", p) else (p.substring(0, slash), p.substring(slash + 1))
      if (hasMeta(last)) {
        if (slash < 0) return "."
        p = if (dir.isEmpty) "/" else dir
      } else return p
    }
    if (p.isEmpty) "." else p
  }

  /** Include patterns → distinct walk roots (util.go:58-111). */
  def deriveScanRoots(includes: Seq[String],
      isDir: String => Boolean): Seq[String] = {
    val roots = includes.flatMap { pat =>
      val p = clean(pat)
      val root =
        if (hasMeta(p)) deriveGlobRoot(p)
        else if (isDir(p)) p
        else {
          val slash = p.lastIndexOf('/')
          if (slash <= 0) if (slash == 0) "/" else "." else p.substring(0, slash)
        }
      if (root.isEmpty) None else Some(clean(root))
    }.distinct
    if (roots.isEmpty) Seq(".") else roots
  }

  /** Strict-subpath test (util.go:9-15). */
  def isSubPath(a: String, b: String): Boolean =
    a != b && a.startsWith(b + "/")

  /** Overlapping-root validation (watcher.go:38-49): two derived roots may
    * not nest. Duplicates are fine (deriveScanRoots dedups).
    */
  def validateRoots(includes: Seq[String],
      isDir: String => Boolean): Either[String, Unit] = {
    val roots = deriveScanRoots(includes, isDir)
    val bad = for {
      a <- roots; b <- roots if a != b && isSubPath(a, b)
    } yield s"overlapping watch paths: $a is subpath of $b"
    bad.headOption.toLeft(())
  }
}
