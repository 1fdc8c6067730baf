package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded transcript generator. Every row is a pure function of
  * (seed, conversation number, turn), so the same seed always gives the
  * same tables, and another seed gives other conversation ids and content.
  *
  * `graft.sources.Transcripts.synthesize` takes no seed and restarts its
  * conversation ids at 0, so repeated appends from it repeat the first
  * snapshot row for row. Here each table takes a conversation range of its
  * own (`firstConv` on top of the seed's base), and a row may instead copy
  * the content of an earlier range, verbatim or with a one-word edit, when
  * a duplicate share is asked for.
  *
  * Texts carry the markers `parse_turn` extracts (CALL / INFO / ask), a
  * `status=err` share for the `errors` sink, blank user turns, and a
  * unique `id=` token so that two fresh texts are never near-duplicates
  * (word 3-gram Jaccard well below the 0.8 threshold). Assistant turns
  * carry 20 words of prose, long enough that a one-word edit stays a
  * near-duplicate (Jaccard 17/19).
  */
object Gen {

  private val Vocab: Array[String] = Array(
    "alpha", "beta", "gamma", "delta", "sigma", "kernel", "vector", "tensor",
    "shard", "bucket", "stream", "buffer", "socket", "thread", "lock", "queue",
    "index", "scan", "merge", "split", "route", "sink", "commit", "replay",
    "offset", "lineage", "digest", "sketch", "filter", "bloom", "band", "shingle",
    "parse", "token", "regex", "field", "value", "record", "batch", "window",
    "spill", "shuffle", "stage", "task", "driver", "executor", "cache", "plan",
    "query", "table", "schema", "column", "row", "page", "block", "file",
    "manifest", "snapshot", "append", "resume", "restore", "drain", "flush", "retry")

  private val Tools: Array[String] =
    Array("search", "exec", "read", "write", "browse", "eval", "plan", "reply")

  /** splitmix64 finalizer. */
  private def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private def hash(seed: Long, c: Long, t: Long, salt: Long): Long =
    mix(mix(mix(seed ^ 0x9e3779b97f4a7c15L) + c) + t * 0x632be59bd9b4e019L + salt)

  /** First conversation number of a seed's id space; tables of one seed
    * take disjoint ranges above it.
    */
  def convBase(seed: Long): Long = (mix(seed) & 0xfffffL) * 1000000L

  private def bits(h: Long, shift: Int, m: Int): Int =
    java.lang.Long.remainderUnsigned(h >>> shift, m.toLong).toInt

  private def words(h: Long, n: Int, sb: StringBuilder): Unit = {
    var i = 0
    var x = h
    while (i < n) {
      if (i > 0) sb.append(' ')
      if (i == 10) x = mix(h + 1)
      sb.append(Vocab((x & 63).toInt))
      x >>>= 6
      i += 1
    }
  }

  /** (role, text, tool) of content key (c, t). */
  private def content(seed: Long, c: Long, t: Long): (String, String, String) = {
    val h = hash(seed, c, t, 0)
    val id = java.lang.Long.toHexString(h).toUpperCase
    val sb = new StringBuilder
    bits(h, 0, 3) match {
      case 2 =>
        val tool = Tools(bits(h, 3, 8))
        sb.append("CALL tool=").append(tool)
          .append(" k=").append(bits(h, 8, 100))
          .append(" note=\"lvl ").append(bits(h, 16, 5))
          .append("\" dur=").append(bits(h, 20, 997))
          .append("ms status=").append(if (bits(h, 30, 7) == 0) "err" else "ok")
          .append(" id=").append(id)
        ("tool", sb.toString, tool)
      case 1 =>
        sb.append("INFO step ").append(bits(h, 34, 1000)).append(' ')
        words(hash(seed, c, t, 1), 20, sb)
        sb.append(" id=").append(id)
        ("assistant", sb.toString, "")
      case _ =>
        if (bits(h, 12, 13) == 0) ("user", "", "")
        else {
          sb.append("ask ")
          words(hash(seed, c, t, 2), 6, sb)
          sb.append(" about topic ").append(bits(h, 40, 20)).append(" id=").append(id)
          ("user", sb.toString, "")
        }
    }
  }

  /** Share of rows copying earlier content (`repeat` verbatim, `edit` with
    * one word appended), drawn from conversations [lo, hi).
    */
  final case class Dups(repeat: Double, edit: Double, lo: Long, hi: Long)

  /** Row `id` of a table whose conversations start at `firstConv`:
    * (conv_id, turn_idx, role, text, tool, ts).
    */
  def row(seed: Long, firstConv: Long, tpc: Int, dups: Option[Dups])(
      id: Long): (String, Int, String, String, String, Timestamp) = {
    val base = convBase(seed)
    val c = base + firstConv + id / tpc
    val t = id % tpc
    val u = (hash(seed, c, t, 3) >>> 11) / 9007199254740992.0
    val h2 = hash(seed, c, t, 4)
    val (kind, kc, kt) = dups match {
      case Some(d) if u < d.repeat + d.edit =>
        (if (u < d.repeat) 1 else 2,
          base + d.lo + java.lang.Long.remainderUnsigned(h2, d.hi - d.lo),
          java.lang.Long.remainderUnsigned(h2 >>> 32, tpc.toLong))
      case _ => (0, c, t)
    }
    val (role, text0, tool) = content(seed, kc, kt)
    val text = if (kind == 2 && text0.nonEmpty) text0 + " revised" else text0
    (s"conv-$c", t.toInt, role, text, tool,
      new Timestamp((1700000000L + (c % 1000000L) * 60L + t) * 1000L))
  }

  /** One table of `numConvs` × `turnsPerConv` turns in the
    * `graft.model.Turn` schema, conversations `firstConv` onwards (relative
    * to the seed's base), in `parts` partitions (= data files on append).
    */
  def turns(spark: SparkSession, seed: Long, firstConv: Long, numConvs: Long,
      turnsPerConv: Int, parts: Int, dups: Option[Dups] = None): DataFrame = {
    import spark.implicits._
    val f = row(seed, firstConv, turnsPerConv, dups) _
    spark.range(0, numConvs * turnsPerConv, 1, parts).map(id => f(id))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
  }
}
