package graft.operators

import scala.collection.mutable
import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import RedisStateOps.{commandOps, foldKey, CommandRankBase, Op, OpRow,
  ResetPoints, TombPrefix}
import RedisStateOpsSpec.opOrder

/** Property battery for the redis state fold: for ANY random command
  * script, the landed current-state face must equal an INDEPENDENT
  * straight-line interpreter of server semantics — per key, per type,
  * per flag — with conservatively-dropped keys (unmodelable writers)
  * showing as tombstones/absent and NEVER as partial state. Three
  * properties per script:
  *
  *  1. fold(script) == model(script) on every tracked key; untracked
  *     keys (RENAME dst, SMOVE dst, cross-key LMOVE dst, …) fold as
  *     tombstone-or-absent until a full-key write re-tracks them —
  *     the tombstone LIFECYCLE is part of the contract under test;
  *  2. window-split associativity: folding the ops in two windows
  *     (window 1's payload as window 2's base) equals one pass —
  *     the LandedTable cadence-merge shape;
  *  3. replay dedupe: double-landing window 2 changes nothing.
  *
  * The model is deliberately naive (immutable values in a map, no
  * sharing with the fold's St/op-row/rank machinery): the property
  * exercises the COMPOSITION — op extraction, rank ordering, op-row
  * order, per-key sequencing, WRONGTYPE no-ops, numeric edges —
  * that hand vectors (RedisStateOpsSpec) can only sample.
  */
class RedisStateFoldPropertySpec extends AnyFunSuite {

  // ---- the independent model ----------------------------------------

  private sealed trait V
  private case class VS(v: String) extends V
  private case class VH(m: Map[String, String]) extends V
  private case class VSet(s: Set[String]) extends V
  private case class VZ(m: Map[String, Double]) extends V
  private case class VL(v: Vector[String]) extends V
  /** Stream: canonical id → the entry's field/value PAIRS
    * (duplicate fields are legal and preserved), plus the last
    * generated id. Immutable collections, id order derived by
    * PARSING (BigInt halves) — deliberately nothing shared with the
    * fold's padded TreeMap.
    */
  private case class VStr(
      es: Map[String, Vector[(String, String)]],
      lid: Option[String]) extends V

  /** Independent stream-id order: unsigned ms/seq halves via BigInt
    * (the generator only emits canonical decimal ids).
    */
  private def sid(s: String): (BigInt, BigInt) = {
    val i = s.indexOf('-')
    if (i < 0) (BigInt(s), BigInt(0))
    else (BigInt(s.take(i)), BigInt(s.drop(i + 1)))
  }

  /** Score/float rendering mirroring the server's (and the payload
    * format's) conventions — re-implemented here on purpose, and
    * independently of the fold's MaxExactDouble guard: integral
    * render only when rounding to the nearest integer is exact AND
    * the magnitude sits inside the double's exact-integer range
    * (2^53), where `toLong` is faithful. Beyond it the fold's old
    * `toLong` silently clamped (`ZADD z 1e20 m` landed
    * 9223372036854775807) — round-15 verdict Wrong #1; the model
    * must NOT share that bug, so it gates on `math.rint` + the
    * literal bound rather than the fold's floor + constant.
    */
  private def rnum(d: Double): String =
    if (d.isInfinity) { if (d > 0) "inf" else "-inf" }
    else if (math.rint(d) == d && math.abs(d) <= 9007199254740992d)
      d.toLong.toString
    else d.toString

  private def rscore(s: String): Option[Double] =
    s.toDoubleOption.orElse(s.trim.toLowerCase match {
      case "inf" | "+inf" | "infinity" | "+infinity" =>
        Some(Double.PositiveInfinity)
      case "-inf" | "-infinity" => Some(Double.NegativeInfinity)
      case _ => None
    })

  private final class Model {
    val vals = mutable.Map[String, V]()
    val ttl = mutable.Map[String, Long]() // the landed x HINT
    /** Keys whose command history contains an unmodelable write the
      * fold is CONTRACTED to drop (mirrors commandOps' drop rule);
      * cleared exactly by the tombstone-clearing writers.
      */
    val untracked = mutable.Set[String]()

    private def fullSet(k: String, v: String,
        keepTtl: Boolean = false): Unit = {
      vals(k) = VS(v)
      // a full SET re-tracks a dropped key, but the KEPT expiry was
      // part of the lost state — the documented x-hint loss
      if (!keepTtl || untracked(k)) ttl.remove(k)
      untracked -= k
    }
    private def del(k: String): Unit = {
      vals.remove(k); ttl.remove(k); untracked -= k
    }
    /** A container draining to empty removes the KEY but does NOT
      * re-track it: the fold clears tombstones only on an explicit
      * DEL/full SET — on a tombstoned key the emptying element ops
      * were no-ops, so the tombstone must survive.
      */
    private def emptied(k: String): Unit = {
      vals.remove(k); ttl.remove(k)
    }
    private def drop(k: String): Unit = untracked += k

    /** Destination keys of the window's movement commands — the
      * keys the fold DEFERS to its second phase. A movement whose
      * SOURCE is itself deferred gets no emission (the fold runs
      * exactly two phases; chains tombstone at the second hop), so
      * the model must drop those destinations too. Mirrors
      * commandOps' pair emission: cross-key RENAME/COPY/SMOVE/LMOVE.
      */
    def deferredOf(cmds: Seq[Seq[String]]): Set[String] =
      cmds.flatMap { argv =>
        argv.head.toUpperCase match {
          case "RENAME" | "COPY" | "SMOVE"
              if argv.size >= 3 && argv(1) != argv(2) =>
            Seq(argv(2))
          case "LMOVE"
              if argv.size >= 5 && argv(1) != argv(2) =>
            Seq(argv(2))
          case "SINTERSTORE" | "SUNIONSTORE" | "SDIFFSTORE"
              if argv.size >= 3 =>
            Seq(argv(1)) // the store's DESTINATION is argv(1)
          case "ZUNIONSTORE" | "ZINTERSTORE" | "ZDIFFSTORE"
              if argv.size >= 4 =>
            Seq(argv(1))
          case "ZRANGESTORE" if argv.size >= 5 =>
            Seq(argv(1))
          case "BITOP" if argv.size >= 4 &&
              (argv(1).toUpperCase match {
                case "AND" | "OR" | "XOR" => true
                case "NOT" => argv.size == 4
                case _ => false
              }) =>
            Seq(argv(2)) // BITOP's DESTINATION is argv(2)
          case "SORT" =>
            // a pattern-free, well-formed STORE defers its dest
            // (BY/GET or a negative LIMIT count tombstone instead —
            // not a movement)
            var j = 2
            var st: Option[String] = None
            var bad = false
            var pat = false
            while (!bad && j < argv.size) {
              argv(j).toUpperCase match {
                case "ASC" | "DESC" | "ALPHA" => j += 1
                case "LIMIT" if j + 2 < argv.size &&
                    argv(j + 1).toLongOption.exists(_ >= 0) &&
                    argv(j + 2).toLongOption.isDefined =>
                  if (argv(j + 2).toLong < 0) pat = true
                  j += 3
                case "BY" | "GET" if j + 1 < argv.size =>
                  pat = true; j += 2
                case "STORE" if j + 1 < argv.size =>
                  st = Some(argv(j + 1)); j += 2
                case _ => bad = true
              }
            }
            if (!bad && !pat) st.toSeq else Seq.empty
          case _ => Seq.empty
        }
      }.toSet

    /** Apply one WINDOW of commands — the unit the fold's two-phase
      * merge processes (trackedness of movement destinations depends
      * on which window the movement lands in).
      */
    def applyWindow(cmds: Seq[Seq[String]]): Unit = {
      val deferred = deferredOf(cmds)
      cmds.foreach(apply(_, deferred))
    }

    def apply(argv: Seq[String],
        deferred: Set[String] = Set.empty): Unit = {
      val cmd = argv.head.toUpperCase
      def k = argv(1)
      cmd match {
        case "SET" =>
          if (argv.size == 3) fullSet(k, argv(2))
          else if (argv.lift(3).exists(_.equalsIgnoreCase("KEEPTTL")))
            fullSet(k, argv(2), keepTtl = true)
          else if (argv.lift(3).exists(_.equalsIgnoreCase("NX"))) {
            if (!vals.contains(k) && !untracked(k)) fullSet(k, argv(2))
            // NX on an untracked key: the fold keeps the tombstone;
            // on the true server the write may or may not happen —
            // the key simply STAYS untracked either way
          }
        case "SETNX" =>
          if (!vals.contains(k) && !untracked(k))
            fullSet(k, argv(2))
        case "GETSET" => fullSet(k, argv(2))
        case "GETDEL" => del(k)
        case "DEL" | "UNLINK" => argv.drop(1).foreach(del)
        case "APPEND" => vals.get(k) match {
          case Some(VS(v)) => vals(k) = VS(v + argv(2))
          case None => vals(k) = VS(argv(2))
          case _ => () // WRONGTYPE
        }
        case "INCRBY" | "DECRBY" =>
          val sgn = if (cmd == "DECRBY") -1 else 1
          argv(2).toLongOption.foreach { d0 =>
            val d = -BigInt(d0) * -sgn // negation-safe
            vals.get(k) match {
              case Some(VS(v)) => v.toLongOption.foreach { o =>
                val sum = BigInt(o) + d
                if (sum.isValidLong) vals(k) = VS(sum.toString)
              }
              case None =>
                if (d.isValidLong) vals(k) = VS(d.toString)
              case _ => ()
            }
          }
        case "INCRBYFLOAT" => vals.get(k) match {
          case Some(VS(v)) =>
            for (o <- v.toDoubleOption; d <- argv(2).toDoubleOption)
              if (java.lang.Double.isFinite(o + d))
                vals(k) = VS(rnum(o + d))
          case None => argv(2).toDoubleOption.foreach(d =>
            if (java.lang.Double.isFinite(d)) vals(k) = VS(rnum(d)))
          case _ => ()
        }
        case "SETRANGE" => argv(2).toIntOption.foreach { off =>
          // the server splices BYTES. A U+0080..U+00FF char stands for
          // one byte when SETBIT/BITFIELD wrote it and two when SET
          // text did, so where one starts before the splice end the
          // server's bytes are unknowable here; so is a result that is
          // not UTF-8 (an edge inside a multi-byte character)
          def splice(v: String): Unit = {
            val utf8 = java.nio.charset.StandardCharsets.UTF_8
            val patch = argv(3).getBytes(utf8)
            val end = off + patch.length
            val amb = v.indexWhere(c => c >= '\u0080' && c <= 'ÿ')
            if (amb >= 0 && v.take(amb).getBytes(utf8).length < end)
              drop(k)
            else {
              val out = v.getBytes(utf8)
                .padTo(end, 0.toByte)
                .patch(off, patch, patch.length)
              val s = new String(out, utf8)
              if (s.getBytes(utf8).sameElements(out)) vals(k) = VS(s)
              else drop(k)
            }
          }
          if (off >= 0 && argv(3).nonEmpty) vals.get(k) match {
            case Some(VS(v)) => splice(v)
            case None => splice("")
            case _ => ()
          }
        }
        case "SETBIT" => argv(2).toLongOption.foreach { off =>
          if (off >= 0 && off < 4294967296L &&
              (argv(3) == "0" || argv(3) == "1")) {
            val idx = (off / 8).toInt
            val bit = 7 - (off % 8).toInt
            val cur = vals.get(k) match {
              case Some(VS(v)) => Some(v)
              case None => Some("")
              case _ => None // WRONGTYPE
            }
            cur.foreach { v =>
              val arr = v.padTo(idx + 1, '\u0000').toCharArray
              if (arr(idx) > 'ÿ') drop(k)
              else {
                val c = arr(idx).toInt
                arr(idx) =
                  (if (argv(3) == "1") c | (1 << bit)
                  else c & ~(1 << bit)).toChar
                vals(k) = VS(new String(arr))
              }
            }
          }
        }
        case "BITOP" =>
          val bo = argv(1).toUpperCase
          val bsrcs = argv.drop(3)
          val arityOk = bo match {
            case "AND" | "OR" | "XOR" => bsrcs.nonEmpty
            case "NOT" => bsrcs.size == 1
            case _ => false
          }
          if (arityOk) {
            val strs = bsrcs.map(s2 => vals.get(s2) match {
              case Some(VS(v)) if v.forall(_ <= 'ÿ') => Some(v)
              case None => Some("")
              case Some(VS(_)) => Some(null) // exotic chars: unknown
              case _ => None // WRONGTYPE: server errors
            })
            if (strs.forall(_.isDefined)) {
              val dst = argv(2)
              if (strs.exists(_.contains(null))) {
                vals.remove(dst); ttl.remove(dst); drop(dst)
              } else {
                val ss = strs.flatten
                val n = ss.iterator.map(_.length).max
                def at(s2: String, i: Int): Int =
                  if (i < s2.length) s2.charAt(i).toInt else 0
                val res = (0 until n).map { i =>
                  (bo match {
                    case "NOT" => ~at(ss.head, i) & 0xff
                    case "AND" => ss.map(at(_, i)).reduce(_ & _)
                    case "OR" => ss.map(at(_, i)).reduce(_ | _)
                    case _ => ss.map(at(_, i)).reduce(_ ^ _)
                  }).toChar
                }.mkString
                if (res.isEmpty) vals.remove(dst)
                else vals(dst) = VS(res)
                ttl.remove(dst)
                if (bsrcs.exists(s2 =>
                    untracked(s2) || deferred(s2)))
                  drop(dst)
                else untracked -= dst
              }
            }
          }
        case "BITFIELD" =>
          // independent parse: token walk collecting the write ops
          // with the overflow policy in force; any malformed token
          // rejects the whole command (server behavior)
          val toks = argv.drop(2).toVector
          val tyRe = "([ui])(\\d+)".r
          def ty(t: String): Option[(Boolean, Int)] =
            t.toLowerCase match {
              case tyRe(sg, wd) => wd.toIntOption.collect {
                case w2 if w2 >= 1 &&
                    w2 <= (if (sg == "i") 64 else 63) =>
                  (sg == "i", w2)
              }
              case _ => None
            }
          def boff(t: String, w2: Int): Option[Long] =
            (if (t.startsWith("#"))
              t.drop(1).toLongOption.map(_ * w2)
            else t.toLongOption)
              .filter(o => o >= 0 && o + w2 <= 4294967296L)
          var pol = "WRAP"
          var bad = false
          var p = 0
          val writes = mutable.Buffer[(Boolean, Boolean, Int, Long,
            Long, String)]()
          while (!bad && p < toks.size) {
            toks(p).toUpperCase match {
              case "OVERFLOW" if p + 1 < toks.size &&
                  Set("WRAP", "SAT", "FAIL")
                    .contains(toks(p + 1).toUpperCase) =>
                pol = toks(p + 1).toUpperCase
                p += 2
              case "GET" if p + 2 < toks.size =>
                bad = ty(toks(p + 1))
                  .flatMap(t => boff(toks(p + 2), t._2)).isEmpty
                p += 3
              case w @ ("SET" | "INCRBY") if p + 3 < toks.size =>
                (for {
                  t <- ty(toks(p + 1))
                  o <- boff(toks(p + 2), t._2)
                  a <- toks(p + 3).toLongOption
                } yield (w == "SET", t._1, t._2, o, a, pol)) match {
                  case Some(wr) => writes += wr
                  case None => bad = true
                }
                p += 4
              case _ => bad = true
            }
          }
          if (!bad) writes.foreach {
            case (isSet, signed, w2, off, amt, pol2) =>
              val cur0 = vals.get(k) match {
                case Some(VS(v)) => Some(v)
                case None => Some("")
                case _ => None // WRONGTYPE
              }
              cur0.foreach { v =>
                val lastB = ((off + w2 - 1) / 8).toInt
                val arr = v.padTo(lastB + 1, '\u0000').toCharArray
                if (arr.slice((off / 8).toInt, lastB + 1)
                    .exists(_ > 'ÿ')) drop(k)
                else {
                  // read the field MSB-first as a bit vector
                  val bits = (0 until w2).map { j =>
                    val b = off + j
                    ((arr((b / 8).toInt) >> (7 - (b % 8).toInt))
                      & 1) == 1
                  }
                  val raw = bits.foldLeft(BigInt(0))((a, b2) =>
                    (a << 1) + (if (b2) 1 else 0))
                  val span = BigInt(1) << w2
                  val top = (if (signed) span / 2 else span) - 1
                  val bot = if (signed) -(span / 2) else BigInt(0)
                  val now = if (signed && raw > top) raw - span
                    else raw
                  val goal =
                    if (isSet) BigInt(amt) else now + BigInt(amt)
                  val out: Option[BigInt] =
                    if (goal >= bot && goal <= top) Some(goal)
                    else pol2 match {
                      case "SAT" =>
                        Some(if (goal < bot) bot else top)
                      case "WRAP" =>
                        val t2 = goal.mod(span)
                        Some(if (signed && t2 > top) t2 - span
                        else t2)
                      case _ => None // FAIL: write skipped
                    }
                  out.foreach { fv =>
                    val img = fv.mod(span)
                    (0 until w2).foreach { j =>
                      val b = off + j
                      val m2 = 1 << (7 - (b % 8).toInt)
                      val i2 = (b / 8).toInt
                      val c2 = arr(i2).toInt
                      arr(i2) =
                        (if (img.testBit(w2 - 1 - j)) c2 | m2
                        else c2 & ~m2).toChar
                    }
                    vals(k) = VS(new String(arr))
                  }
                }
              }
          }
        case "SORT" =>
          // independent option walk + sort: only pattern-free STORE
          // forms land; BY/GET (and a negative LIMIT count) drop the
          // destination the way the fold's unsupp op does
          var j = 2
          var descQ = false
          var alphaQ = false
          var loQ = 0L
          var cntQ = Long.MaxValue
          var st = Option.empty[String]
          var bad = false
          var pat = false
          while (!bad && j < argv.size) {
            argv(j).toUpperCase match {
              case "ASC" => descQ = false; j += 1
              case "DESC" => descQ = true; j += 1
              case "ALPHA" => alphaQ = true; j += 1
              case "LIMIT" if j + 2 < argv.size &&
                  argv(j + 1).toLongOption.exists(_ >= 0) &&
                  argv(j + 2).toLongOption.isDefined =>
                loQ = argv(j + 1).toLong
                val c = argv(j + 2).toLong
                if (c < 0) pat = true else cntQ = c
                j += 3
              case "BY" | "GET" if j + 1 < argv.size =>
                pat = true; j += 2
              case "STORE" if j + 1 < argv.size =>
                st = Some(argv(j + 1)); j += 2
              case _ => bad = true
            }
          }
          if (!bad) st.foreach { dst =>
            if (pat) { ttl.remove(dst); drop(dst) }
            else if (untracked(k) || deferred(k)) {
              // unknown/deferred source: no or unknown emission
              ttl.remove(dst); drop(dst)
            } else {
              val es: Option[Seq[String]] = vals.get(k) match {
                case Some(VL(v)) => Some(v)
                case Some(VSet(m)) => Some(m.toSeq)
                case Some(VZ(m)) => Some(m.keys.toSeq)
                case None => Some(Nil)
                case _ => None // WRONGTYPE: content unknowable
              }
              es match {
                case None => ttl.remove(dst); drop(dst)
                case Some(es0) =>
                  val resOpt: Option[Seq[String]] =
                    if (alphaQ) Some {
                      // Ordering.String == the fold's code-point
                      // order for the generator's ASCII value pool
                      val srt = es0.sorted
                      if (descQ) srt.reverse else srt
                    } else {
                      val scored = es0.map(e => (e, rscore(e)))
                      if (scored.exists(_._2.isEmpty)) None
                      else {
                        val srt0 = scored
                          .map { case (e, d) => (e, d.get) }
                          .sortBy(_._2)
                        val ord = if (descQ) srt0.reverse else srt0
                        val hiQ =
                          if (cntQ == Long.MaxValue) ord.size.toLong
                          else math.min(loQ + cntQ, ord.size.toLong)
                        val amb = ord.zipWithIndex
                          .groupBy(_._1._2).values.exists { g =>
                            g.map(_._1._1).distinct.size > 1 &&
                              g.map(_._2).min < hiQ &&
                              g.map(_._2).max + 1 > loQ
                          }
                        if (amb) Some(null) else Some(ord.map(_._1))
                      }
                    }
                  resOpt match {
                    case None => () // numeric parse error: no effect
                    case Some(null) => ttl.remove(dst); drop(dst)
                    case Some(full) =>
                      val from =
                        math.min(loQ, Int.MaxValue.toLong).toInt
                      val sliced =
                        if (cntQ == Long.MaxValue) full.drop(from)
                        else full.slice(from,
                          math.min(loQ + cntQ,
                            Int.MaxValue.toLong).toInt)
                      ttl.remove(dst)
                      if (sliced.isEmpty) {
                        vals.remove(dst); untracked -= dst
                      } else {
                        vals(dst) = VL(sliced.toVector)
                        untracked -= dst
                      }
                  }
              }
            }
          }
        case "HSET" => vals.get(k) match {
          case Some(VH(m)) =>
            vals(k) = VH(m ++ argv.drop(2).grouped(2).collect {
              case Seq(f, v) => f -> v
            })
          case None =>
            vals(k) = VH(argv.drop(2).grouped(2).collect {
              case Seq(f, v) => f -> v
            }.toMap)
          case _ => ()
        }
        case "HSETNX" => vals.get(k) match {
          case Some(VH(m)) =>
            if (!m.contains(argv(2)))
              vals(k) = VH(m + (argv(2) -> argv(3)))
          case None => vals(k) = VH(Map(argv(2) -> argv(3)))
          case _ => ()
        }
        case "HDEL" => vals.get(k) match {
          case Some(VH(m)) =>
            val left = m -- argv.drop(2)
            if (left.isEmpty) emptied(k) else vals(k) = VH(left)
          case _ => ()
        }
        case "HINCRBY" => vals.get(k) match {
          case Some(VH(m)) =>
            for (o <- m.getOrElse(argv(2), "0").toLongOption;
                d <- argv(3).toLongOption) {
              val sum = BigInt(o) + BigInt(d)
              if (sum.isValidLong)
                vals(k) = VH(m + (argv(2) -> sum.toString))
            }
          case None => argv(3).toLongOption.foreach(d =>
            vals(k) = VH(Map(argv(2) -> d.toString)))
          case _ => ()
        }
        case "SADD" => vals.get(k) match {
          case Some(VSet(s)) => vals(k) = VSet(s ++ argv.drop(2))
          case None => vals(k) = VSet(argv.drop(2).toSet)
          case _ => ()
        }
        case "SREM" => vals.get(k) match {
          case Some(VSet(s)) =>
            val left = s -- argv.drop(2)
            if (left.isEmpty) emptied(k) else vals(k) = VSet(left)
          case _ => ()
        }
        case "SMOVE" =>
          // r16: the destination is TRACKED through the movement
          // pair — the source fold emits whether the member moved.
          // An untracked source moves UNKNOWN content → dst drops; a
          // moved member onto an untracked dst stays untracked
          // (element-level ops never rebuild a tombstone).
          if (untracked(k) || deferred(k)) drop(argv(2))
          vals.get(k) match {
            case Some(VSet(s)) if s.contains(argv(3)) =>
              val left = s - argv(3)
              if (left.isEmpty) emptied(k) else vals(k) = VSet(left)
              vals(argv(2)) = vals.get(argv(2)) match {
                case Some(VSet(d)) => VSet(d + argv(3))
                case _ => VSet(Set(argv(3)))
              }
            case _ => ()
          }
        case "ZRANGESTORE" =>
          // r16: a deterministic range of the source zset replaces
          // the destination (deleted when empty). Independent
          // ordering path: the model sorts (score, member) tuples of
          // its Double map and slices/filters with plain collection
          // code.
          val src = argv(2)
          var by = "idx"
          var rev = false
          var off2 = 0L
          var cnt2 = -1L
          var j = 5
          while (j < argv.size) {
            argv(j).toUpperCase match {
              case "BYSCORE" => by = "score"; j += 1
              case "BYLEX" => by = "lex"; j += 1
              case "REV" => rev = true; j += 1
              case "LIMIT" =>
                off2 = argv(j + 1).toLong
                cnt2 = argv(j + 2).toLong
                j += 3
              case _ => j = argv.size
            }
          }
          vals.get(src) match {
            case Some(VZ(zm)) =>
              val asc = zm.toVector.sortBy { case (m, d) => (d, m) }
              val seq = if (rev) asc.reverse else asc
              def lim(xs: Vector[(String, Double)]) = {
                val dr = xs.drop(off2.toInt)
                if (cnt2 < 0) dr else dr.take(cnt2.toInt)
              }
              val sel: Vector[(String, Double)] = by match {
                case "idx" =>
                  val n = seq.size.toLong
                  val lo0 = argv(3).toLong
                  val hi0 = argv(4).toLong
                  val lo = math.min(math.max(
                    if (lo0 < 0) n + lo0 else lo0, 0L), n).toInt
                  val hi = math.min(math.max(
                    if (hi0 < 0) n + hi0 else hi0, -1L), n - 1).toInt
                  if (lo > hi) Vector.empty
                  else seq.slice(lo, hi + 1)
                case "score" =>
                  def b(x: String): (Double, Boolean) =
                    if (x.startsWith("("))
                      (rscore(x.substring(1)).get, false)
                    else (rscore(x).get, true)
                  val (lo, hi) =
                    if (rev) (b(argv(4)), b(argv(3)))
                    else (b(argv(3)), b(argv(4)))
                  lim(seq.filter { case (_, d) =>
                    (if (lo._2) d >= lo._1 else d > lo._1) &&
                      (if (hi._2) d <= hi._1 else d < hi._1)
                  })
                case _ =>
                  def inLo(m: String, x: String) = x match {
                    case "-" => true
                    case "+" => false
                    case _ if x.startsWith("[") =>
                      m >= x.substring(1)
                    case _ => m > x.substring(1)
                  }
                  def inHi(m: String, x: String) = x match {
                    case "+" => true
                    case "-" => false
                    case _ if x.startsWith("[") =>
                      m <= x.substring(1)
                    case _ => m < x.substring(1)
                  }
                  val (loS, hiS) =
                    if (rev) (argv(4), argv(3))
                    else (argv(3), argv(4))
                  lim(seq.filter { case (m, _) =>
                    inLo(m, loS) && inHi(m, hiS)
                  })
              }
              if (sel.isEmpty) { vals.remove(k); () }
              else vals(k) = VZ(sel.toMap)
              ttl.remove(k)
              if (untracked(src) || deferred(src)) drop(k)
              else untracked -= k
            case None =>
              // empty range: the destination is DELETED, known
              vals.remove(k); ttl.remove(k)
              if (untracked(src) || deferred(src)) drop(k)
              else untracked -= k
            case _ => () // WRONGTYPE: server errors, not generated
          }
        case "ZUNIONSTORE" | "ZINTERSTORE" | "ZDIFFSTORE" =>
          // r16: sources are zsets OR sets (score 1); WEIGHTS scale,
          // AGGREGATE combines (sum lands 0 where +inf + -inf would
          // be NaN — the server's documented rule); ZDIFFSTORE keeps
          // the first source's scores. Independent float path: the
          // model works in Doubles and renders through rnum.
          val nk = argv(2).toInt
          val srcs = argv.slice(3, 3 + nk)
          var j = 3 + nk
          var ws: Option[Seq[Double]] = None
          var agg = "SUM"
          while (j < argv.size) {
            argv(j).toUpperCase match {
              case "WEIGHTS" =>
                ws = Some(argv.slice(j + 1, j + 1 + nk)
                  .flatMap(rscore))
                j += 1 + nk
              case "AGGREGATE" =>
                agg = argv(j + 1).toUpperCase; j += 2
              case _ => j = argv.size
            }
          }
          def zsrc(k2: String): Option[Map[String, Double]] =
            vals.get(k2) match {
              case Some(VZ(m)) => Some(m)
              case Some(VSet(m)) => Some(m.map(_ -> 1.0).toMap)
              case None => Some(Map.empty)
              case _ => None // WRONGTYPE: server errors, not generated
            }
          val srcMaps = srcs.map(zsrc)
          if (srcMaps.forall(_.isDefined)) {
            val ms = srcMaps.flatten
            def w(i: Int) = ws.map(_.apply(i)).getOrElse(1.0)
            def comb(vs: Seq[Double]): Double = agg match {
              case "MIN" => vs.min
              case "MAX" => vs.max
              case _ =>
                val t = vs.sum
                if (t.isNaN) 0.0 else t
            }
            val res: Map[String, Double] = cmd match {
              case "ZINTERSTORE" =>
                ms.map(_.keySet).reduce(_ intersect _).iterator
                  .map(m => m -> comb(ms.zipWithIndex.map {
                    case (s2, i) => s2(m) * w(i)
                  })).toMap
              case "ZUNIONSTORE" =>
                ms.map(_.keySet).reduce(_ union _).iterator
                  .map(m => m -> comb(ms.zipWithIndex.collect {
                    case (s2, i) if s2.contains(m) => s2(m) * w(i)
                  })).toMap
              case _ => ms.head -- ms.tail.flatMap(_.keySet)
            }
            if (res.isEmpty) { vals.remove(k); () }
            else vals(k) = VZ(res)
            ttl.remove(k)
            if (srcs.exists(s2 => untracked(s2) || deferred(s2)))
              drop(k)
            else untracked -= k
          }
        case "ZADD" =>
          val flags = argv.drop(2).takeWhile(a =>
            Set("NX", "XX", "GT", "LT", "CH", "INCR")
              .contains(a.toUpperCase))
          val fs = flags.map(_.toUpperCase).toSet
          val nx = fs("NX"); val xx = fs("XX")
          val gt = fs("GT"); val lt = fs("LT")
          if (!((nx && (xx || gt || lt)) || (gt && lt))) {
            val pairs = argv.drop(2 + flags.size).grouped(2).collect {
              case Seq(s, m) => (s, m)
            }.toSeq
            if (!(fs("INCR") && pairs.size != 1))
              pairs.foreach { case (sv, m) =>
                rscore(sv).foreach { d =>
                  val z = vals.get(k) match {
                    case Some(VZ(zm)) => Some(zm)
                    case None => Some(Map.empty[String, Double])
                    case _ => None // WRONGTYPE
                  }
                  z.foreach { zm =>
                    val old = zm.get(m)
                    val score =
                      if (fs("INCR")) old.getOrElse(0.0) + d else d
                    if (!score.isNaN) {
                      val write = old match {
                        case None => !xx
                        case Some(p) => !nx &&
                          ((!gt && !lt) || (gt && score > p) ||
                            (lt && score < p))
                      }
                      if (write && (zm.nonEmpty || !xx ||
                          old.isDefined))
                        vals(k) = VZ(zm + (m -> score))
                    }
                  }
                }
              }
          }
        case "ZREM" => vals.get(k) match {
          case Some(VZ(m)) =>
            val left = m -- argv.drop(2)
            if (left.isEmpty) emptied(k) else vals(k) = VZ(left)
          case _ => ()
        }
        case "ZPOPMIN" | "ZPOPMAX" => vals.get(k) match {
          // r17: deterministic pops in skiplist order — the model
          // sorts its immutable Double map by (score, member)
          case Some(VZ(m)) =>
            argv.lift(2).map(_.toLongOption).getOrElse(Some(1L))
              .filter(_ >= 0).foreach { n0 =>
                if (n0 > 0) {
                  val asc = m.toVector
                    .sortBy { case (mm, d) => (d, mm) }
                  val doomed =
                    if (cmd == "ZPOPMIN") asc.take(n0.toInt)
                    else asc.takeRight(n0.toInt)
                  val left = m -- doomed.map(_._1)
                  if (left.isEmpty) emptied(k) else vals(k) = VZ(left)
                }
              }
          case _ => ()
        }
        case "ZINCRBY" => vals.get(k) match {
          case Some(VZ(m)) => rscore(argv(2)).foreach { d =>
            val s = m.getOrElse(argv(3), 0.0) + d
            if (!s.isNaN) vals(k) = VZ(m + (argv(3) -> s))
          }
          case None => rscore(argv(2)).foreach(d =>
            if (!d.isNaN) vals(k) = VZ(Map(argv(3) -> d)))
          case _ => ()
        }
        case "LPUSH" | "RPUSH" => vals.get(k) match {
          case Some(VL(v)) =>
            vals(k) = VL(argv.drop(2).foldLeft(v)((acc, e) =>
              if (cmd == "LPUSH") e +: acc else acc :+ e))
          case None =>
            vals(k) = VL(argv.drop(2)
              .foldLeft(Vector.empty[String])((acc, e) =>
                if (cmd == "LPUSH") e +: acc else acc :+ e))
          case _ => ()
        }
        case "LPOP" | "RPOP" => vals.get(k) match {
          case Some(VL(v)) =>
            val n0 = argv.lift(2).map(_.toLongOption.getOrElse(-1L))
              .getOrElse(1L)
            if (n0 >= 0) {
              val n = math.min(n0, v.size.toLong).toInt
              val left =
                if (cmd == "LPOP") v.drop(n) else v.dropRight(n)
              if (left.isEmpty) emptied(k) else vals(k) = VL(left)
            }
          case _ => ()
        }
        case "LSET" => vals.get(k) match {
          case Some(VL(v)) => argv(2).toIntOption.foreach { i =>
            val idx = if (i < 0) v.size + i else i
            if (idx >= 0 && idx < v.size)
              vals(k) = VL(v.updated(idx, argv(3)))
          }
          case _ => ()
        }
        case "LREM" => vals.get(k) match {
          case Some(VL(v)) => argv(2).toLongOption.foreach { cnt =>
            def dropN(xs: Vector[String], n: Long) = {
              var left = n
              xs.filter { e =>
                if (left > 0 && e == argv(3)) { left -= 1; false }
                else true
              }
            }
            val left =
              if (cnt == 0) v.filterNot(_ == argv(3))
              else if (cnt > 0) dropN(v, cnt)
              else dropN(v.reverse, -cnt).reverse
            if (left.isEmpty) emptied(k) else vals(k) = VL(left)
          }
          case _ => ()
        }
        case "LTRIM" => vals.get(k) match {
          case Some(VL(v)) =>
            for (s0 <- argv(2).toLongOption;
                e0 <- argv(3).toLongOption) {
              val n = v.size.toLong
              val lo = math.min(
                math.max(if (s0 < 0) n + s0 else s0, 0L), n).toInt
              val hi = math.min(
                math.max(if (e0 < 0) n + e0 else e0, -1L),
                n - 1).toInt
              val left =
                if (lo > hi) Vector.empty else v.slice(lo, hi + 1)
              if (left.isEmpty) emptied(k) else vals(k) = VL(left)
            }
          case _ => ()
        }
        case "LINSERT" => vals.get(k) match {
          case Some(VL(v)) =>
            val i = v.indexOf(argv(3))
            if (i >= 0) {
              val at =
                if (argv(2).equalsIgnoreCase("BEFORE")) i else i + 1
              vals(k) = VL((v.take(at) :+ argv(4)) ++ v.drop(at))
            }
          case _ => ()
        }
        case "LMOVE" =>
          val (src, dst) = (argv(1), argv(2))
          def side(a: String) = a.equalsIgnoreCase("LEFT")
          if (src == dst) vals.get(src) match {
            case Some(VL(v)) if v.nonEmpty =>
              if (side(argv(3)) && !side(argv(4)))
                vals(src) = VL(v.tail :+ v.head)
              else if (!side(argv(3)) && side(argv(4)))
                vals(src) = VL(v.last +: v.init)
            case _ => ()
          } else {
            vals.get(src) match {
              case Some(VL(v)) if v.nonEmpty =>
                val (popped, left) =
                  if (side(argv(3))) (v.head, v.tail)
                  else (v.last, v.init)
                if (left.isEmpty) emptied(src)
                else vals(src) = VL(left)
                vals(dst) = vals.get(dst) match {
                  case Some(VL(d)) =>
                    if (side(argv(4))) VL(popped +: d)
                    else VL(d :+ popped)
                  case _ => VL(Vector(popped))
                }
              case _ => ()
            }
            // r16: dst is tracked through the movement pair; an
            // untracked source moves unknown content, and a DEFERRED
            // source (a chain) never emits at all
            if (untracked(src) || deferred(src)) drop(dst)
          }
        case "XADD" =>
          // generator shapes: [NOMKSTREAM] [MAXLEN n | MINID id]
          // <id> f v [f v] — concrete ids only (replication rewrites
          // the wildcard forms before they reach a stream)
          var i = 2
          var nomk = false
          var tl: Option[Long] = None
          var ti: Option[String] = None
          var scanning = true
          while (scanning) {
            argv(i).toUpperCase match {
              case "NOMKSTREAM" => nomk = true; i += 1
              case "MAXLEN" => tl = argv(i + 1).toLongOption; i += 2
              case "MINID" => ti = Some(argv(i + 1)); i += 2
              case _ => scanning = false
            }
          }
          val id = argv(i)
          val fields = argv.drop(i + 1).grouped(2).collect {
            case Seq(f, v) => f -> v
          }.toVector
          def trimmed(es: Map[String, Vector[(String, String)]])
              : Map[String, Vector[(String, String)]] = {
            val afterLen = tl match {
              case Some(n) =>
                es.toSeq.sortBy(e => sid(e._1))
                  .takeRight(math.max(n, 0L).toInt).toMap
              case None => es
            }
            ti match {
              case Some(minId) =>
                afterLen.filter(e => sid(e._1) >= sid(minId))
              case None => afterLen
            }
          }
          val cur = vals.get(k) match {
            case Some(VStr(es, lid)) => Some((es, lid))
            case None => if (nomk) None else Some(
              (Map.empty[String, Vector[(String, String)]],
                Option.empty[String]))
            case _ => None // WRONGTYPE
          }
          cur.foreach { case (es, lid) =>
            val last = (lid.toSeq ++ es.keys).map(sid).maxOption
              .getOrElse((BigInt(0), BigInt(0)))
            if (sid(id) > last)
              vals(k) = VStr(trimmed(es + (id -> fields)), Some(id))
          }
        case "XDEL" => vals.get(k) match {
          case Some(VStr(es, lid)) =>
            // an emptied stream still EXISTS (key + last-id stay)
            vals(k) = VStr(es -- argv.drop(2), lid)
          case _ => ()
        }
        case "XTRIM" => vals.get(k) match {
          case Some(VStr(es, lid)) =>
            val left = argv(2).toUpperCase match {
              case "MAXLEN" => argv(3).toLongOption match {
                case Some(n) if n >= 0 =>
                  es.toSeq.sortBy(e => sid(e._1)).takeRight(n.toInt)
                    .toMap
                case _ => es
              }
              case _ => es.filter(e => sid(e._1) >= sid(argv(3)))
            }
            vals(k) = VStr(left, lid)
          case _ => ()
        }
        case "XSETID" => vals.get(k) match {
          case Some(VStr(es, _))
              if es.isEmpty ||
                sid(argv(2)) >= es.keys.map(sid).max =>
            vals(k) = VStr(es, Some(argv(2)))
          case _ => () // missing key or below top entry: server errors
        }
        case "RENAME" => vals.get(k) match {
          case Some(v) =>
            // r16: dst takes the FULL source state through the
            // movement pair — value, TTL, and trackedness all move
            // (an untracked source renames to an untracked dst; a
            // tracked one OVERWRITES dst wholesale, re-tracking it)
            vals(argv(2)) = v
            ttl.get(k) match {
              case Some(t) => ttl(argv(2)) = t
              case None => ttl.remove(argv(2)): Unit
            }
            if (untracked(k) || deferred(k)) drop(argv(2))
            else untracked -= argv(2)
            vals.remove(k); ttl.remove(k); untracked -= k
          case None if untracked(k) =>
            // an untracked source (possibly with no surviving model
            // value — a store emptied it before dropping it) still
            // renames: UNKNOWN content moves, so the destination
            // drops and the source is known-absent afterwards
            ttl.remove(argv(2))
            drop(argv(2))
            untracked -= k
          case None => ()
        }
        case "COPY" =>
          // generator emits only EFFECTIVE copies: REPLACE, or dst
          // absent. TTL copies with the value (db.c copyCommand).
          val replace = argv.exists(_.equalsIgnoreCase("REPLACE"))
          vals.get(k) match {
            case Some(v) if replace || !vals.contains(argv(2)) =>
              vals(argv(2)) = v
              ttl.get(k) match {
                case Some(t) => ttl(argv(2)) = t
                case None => ttl.remove(argv(2)): Unit
              }
              if (untracked(k) || deferred(k)) drop(argv(2))
              else if (replace) untracked -= argv(2)
              // plain copy onto an untracked dst: the fold cannot
              // know the dst was absent — stays untracked
            case None if untracked(k) =>
              // an untracked source with no surviving model value:
              // unknown content may copy — the destination drops
              // (the source keeps its tombstone; COPY reads only)
              ttl.remove(argv(2))
              drop(argv(2))
            case _ => ()
          }
        case "EXPIRE" | "PEXPIRE" =>
          if (vals.contains(k)) argv(2).toLongOption.foreach(v =>
            ttl(k) = if (cmd == "EXPIRE") v * 1000L else v)
        case "PERSIST" => if (vals.contains(k)) ttl.remove(k): Unit
        case "SINTERSTORE" | "SUNIONSTORE" | "SDIFFSTORE" =>
          // r16: the store destination is TRACKED through the
          // multi-source movement pair — every source emits its
          // member set; the destination is replaced (deleted when
          // the result is empty). A deferred or untracked source
          // drops the destination (no/unknown emission).
          val srcs = argv.drop(2)
          val sets = srcs.map(s2 => vals.get(s2) match {
            case Some(VSet(m)) => Some(m)
            case None => Some(Set.empty[String])
            case _ => None // WRONGTYPE: server errors, not generated
          })
          if (sets.forall(_.isDefined)) {
            val ss = sets.flatten
            val res = cmd match {
              case "SINTERSTORE" => ss.reduce(_ intersect _)
              case "SUNIONSTORE" => ss.reduce(_ union _)
              case _ => ss.tail.foldLeft(ss.head)(_ diff _)
            }
            if (res.isEmpty) { vals.remove(k); () }
            else vals(k) = VSet(res)
            ttl.remove(k) // the stored value is a fresh key
            if (srcs.exists(s2 => untracked(s2) || deferred(s2)))
              drop(k)
            else untracked -= k
          }
        case "RESTORE" =>
          // r17: a replicated RESTORE was effective — REPLACE
          // applies unconditionally (re-tracking the key, like SET);
          // the plain form is generated only onto model-absent keys.
          // On an untracked key the plain form's precondition is
          // unknowable, so both sides stay untracked. An
          // undecodable payload (module type) drops the key.
          val replace = argv.exists(_.equalsIgnoreCase("REPLACE"))
          val applies = replace ||
            (!vals.contains(k) && !untracked(k))
          if (applies) decodeSimpleDump(argv(3)) match {
            case Some(v) =>
              vals(k) = v
              argv(2).toLongOption.filter(_ > 0) match {
                case Some(t) => ttl(k) = t
                case None => ttl.remove(k): Unit
              }
              untracked -= k
            case None => drop(k)
          }
        case "GEOADD" =>
          // r17: exact zset math — the model computes the 52-bit
          // geohash INDEPENDENTLY (per-bit interleave loop vs the
          // fold's magic-mask Morton spread)
          val flags = argv.drop(2).takeWhile(a =>
            Set("NX", "XX", "CH").contains(a.toUpperCase))
          val fs = flags.map(_.toUpperCase).toSet
          if (!(fs("NX") && fs("XX"))) {
            val pts = argv.drop(2 + flags.size).grouped(3).map {
              case Seq(lon, lat, m) =>
                for {
                  lo <- lon.toDoubleOption
                  la <- lat.toDoubleOption
                  b <- modelGeoBits(lo, la)
                } yield (m, b.toDouble)
              case _ => None
            }.toSeq
            if (!pts.exists(_.isEmpty)) pts.flatten.foreach {
              case (m, d) =>
                vals.get(k) match {
                  case Some(VZ(zm)) =>
                    val write = zm.get(m) match {
                      case None => !fs("XX")
                      case Some(_) => !fs("NX")
                    }
                    if (write) vals(k) = VZ(zm + (m -> d))
                  case None =>
                    if (!fs("XX")) vals(k) = VZ(Map(m -> d))
                  case _ => () // WRONGTYPE
                }
            }
          }
        case other => fail(s"model has no case for $other")
      }
    }

    /** Independent DUMP-payload decode for the GENERATOR's plain
      * encodings (6-bit lengths, ASCII zset scores): chars and
      * substring instead of the production byte Reader. None = a
      * type the face cannot hold (the generator's module dumps).
      */
    private def decodeSimpleDump(payload: String): Option[V] = {
      if (payload.length < 11) return None
      val body = payload.substring(1, payload.length - 10)
      var i = 0
      def len(): Int = {
        val n = body.charAt(i).toInt & 0x3f; i += 1; n
      }
      def str(): String = {
        val n = len(); val s = body.substring(i, i + n); i += n; s
      }
      try payload.charAt(0).toInt match {
        case 0 => Some(VS(str()))
        case 1 =>
          val n = len(); Some(VL(Vector.fill(n)(str())))
        case 2 =>
          val n = len()
          Some(VSet((0 until n).map(_ => str()).toSet))
        case 4 =>
          val n = len()
          Some(VH((0 until n).map(_ => (str(), str())).toMap))
        case 3 => // legacy zset: u8 score length, ASCII digits
          val n = len()
          Some(VZ((0 until n).map { _ =>
            val m = str()
            val sl = body.charAt(i).toInt; i += 1
            val sc = body.substring(i, i + sl); i += sl
            (m, sc.toDouble)
          }.toMap))
        case _ => None
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Independent 52-bit geohash: floor + a per-bit interleave loop
    * (the fold uses truncating toLong + magic-mask Morton spread —
    * deliberately nothing shared).
    */
  private def modelGeoBits(lon: Double, lat: Double): Option[Long] = {
    if (!(lon >= -180.0 && lon <= 180.0 &&
        lat >= -85.05112878 && lat <= 85.05112878)) None
    else {
      val ilat = math.floor(
        (lat + 85.05112878) / (2 * 85.05112878) * 67108864.0).toLong
      val ilon = math.floor(
        (lon + 180.0) / 360.0 * 67108864.0).toLong
      var bits = 0L
      var i = 0
      while (i <= 26) {
        bits |= ((ilat >> i) & 1L) << (2 * i)
        bits |= ((ilon >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      Some(bits)
    }
  }

    /** Expected payload JSON for a tracked key (None = absent). */
    def expected(k: String): Option[String] = vals.get(k).map { v =>
      def esc(s: String): String = s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < 0x20 => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      val x = ttl.get(k).map(t => s""","x":$t""").getOrElse("")
      def elems(ps: Seq[(String, String)]): String =
        ps.map { case (f, v2) =>
          s"""["${esc(f)}","${esc(v2)}"]"""
        }.mkString(",")
      v match {
        case VS(s) =>
          s"""{"t":"string"$x,"e":[["","${esc(s)}"]]}"""
        case VH(m) =>
          s"""{"t":"hash"$x,"e":[${elems(m.toSeq.sortBy(_._1))}]}"""
        case VSet(s) =>
          s"""{"t":"set"$x,"e":[${
            elems(s.toSeq.sorted.map(_ -> ""))}]}"""
        case VZ(m) =>
          s"""{"t":"zset"$x,"e":[${
            elems(m.toSeq.sortBy(_._1)
              .map { case (f, d) => f -> rnum(d) })}]}"""
        case VL(vv) =>
          s"""{"t":"list"$x,"e":[${
            elems(vv.zipWithIndex.map { case (e, i) =>
              f"$i%06d" -> e
            })}]}"""
        case VStr(es, lid) =>
          val l = lid.map(i2 => s""","l":"${esc(i2)}"""")
            .getOrElse("")
          val flat = es.toSeq.flatMap { case (id, fs) =>
            fs.map { case (f, v2) => (id + "/" + f) -> v2 }
          }.sorted // flat (field, value) order — the render contract
          s"""{"t":"stream"$l$x,"e":[${elems(flat)}]}"""
      }
    }
  }

  // ---- script generation ---------------------------------------------

  private val keys = Vector("k0", "k1", "k2", "k3", "k4", "k5")

  private def randomCommand(rnd: Random, model: Model): Seq[String] = {
    def key = keys(rnd.nextInt(keys.size))
    def v = "v" + rnd.nextInt(40)
    def member = "m" + rnd.nextInt(6)
    def field = "f" + rnd.nextInt(6)
    def score = rnd.nextInt(16) match {
      case 0 => "inf"
      case 1 => "-inf"
      // magnitudes spanning the 2^53 exact-integer boundary: beyond
      // it an integral double must render via toString, never via a
      // clamping toLong (round-15 verdict Wrong #1)
      case 2 => "1e20"
      case 3 => "9007199254740992" // exactly 2^53: still integral
      case 4 => "-9007199254740993" // rounds to -2^53: integral
      case 5 => "1e16" // 10^16 > 2^53: must NOT clamp
      case n if n < 11 => (rnd.nextInt(21) - 10).toString
      case _ => f"${rnd.nextDouble() * 20 - 10}%.2f"
    }
    def xid = s"${rnd.nextInt(9) + 1}-${rnd.nextInt(3)}"
    rnd.nextInt(49) match {
      case 0 => Seq("SET", key, v)
      case 1 => Seq("SET", key, v, "KEEPTTL")
      case 2 => Seq("SET", key, v, "NX")
      case 3 => Seq("SETNX", key, v)
      case 4 => Seq("APPEND", key, v)
      case 5 => Seq(if (rnd.nextBoolean()) "INCRBY" else "DECRBY",
        key, (rnd.nextInt(200) - 100).toString)
      case 6 => Seq("INCRBYFLOAT", key, f"${rnd.nextDouble()}%.2f")
      case 7 =>
        // byte offsets over values holding 2- and 4-byte characters
        Seq("SETRANGE", key, rnd.nextInt(8).toString,
          if (rnd.nextInt(3) == 0) Seq("é", "😀", "aé")(rnd.nextInt(3))
          else v)
      case 8 => Seq("HSET", key, field, v, field, v + "b")
      case 9 => Seq("HSETNX", key, field, v)
      case 10 => Seq("HDEL", key, field, field)
      case 11 => Seq("HINCRBY", key, field,
        (rnd.nextInt(20) - 10).toString)
      case 12 => Seq("SADD", key, member, member, "m" + rnd.nextInt(6))
      case 13 => Seq("SREM", key, member)
      case 14 =>
        // only emit SERVER-LEGAL smoves: a wrong-typed destination
        // errors the whole command and never replicates (the fold's
        // movement pair ASSUMES effectiveness); same-key smoves
        // never change state
        val src = key
        val dst = keys(rnd.nextInt(keys.size))
        val dstOk = model.vals.get(dst) match {
          case Some(VSet(_)) | None => true
          case _ => false
        }
        if (src != dst && dstOk) Seq("SMOVE", src, dst, member)
        else Seq("SREM", src, member)
      case 15 =>
        val flags = rnd.nextInt(6) match {
          case 0 => Seq("NX")
          case 1 => Seq("XX")
          case 2 => Seq("GT")
          case 3 => Seq("LT", "CH")
          case 4 => Seq("XX", "GT", "INCR")
          case _ => Seq.empty
        }
        Seq("ZADD", key) ++ flags ++ Seq(score, member)
      case 16 =>
        if (rnd.nextBoolean()) Seq("ZREM", key, member)
        else Seq(if (rnd.nextBoolean()) "ZPOPMIN" else "ZPOPMAX",
          key) ++ (if (rnd.nextBoolean())
            Seq(rnd.nextInt(4).toString) else Seq.empty)
      case 17 => Seq("ZINCRBY", key, score, member)
      case 18 => Seq("LPUSH", key, v, v + "b")
      case 19 => Seq("RPUSH", key, v, v + "c")
      case 20 => Seq("LPOP", key)
      case 21 => Seq("RPOP", key, rnd.nextInt(3).toString)
      case 22 => Seq("LSET", key, (rnd.nextInt(5) - 2).toString, v)
      case 23 => Seq("LREM", key, (rnd.nextInt(5) - 2).toString, v)
      case 24 => Seq("LTRIM", key, (rnd.nextInt(4) - 1).toString,
        (rnd.nextInt(5) - 2).toString)
      case 25 => Seq("LINSERT", key,
        if (rnd.nextBoolean()) "BEFORE" else "AFTER", v, v + "i")
      case 26 =>
        val a = key
        val b = if (rnd.nextInt(3) == 0) a else keys(rnd.nextInt(6))
        // cross-key form: only when the real destination is
        // list-or-absent (a wrong-typed dst errors server-side and
        // never replicates); same-key rotations need no guard
        val bOk = a == b || (model.vals.get(b) match {
          case Some(VL(_)) | None => true
          case _ => false
        })
        if (bOk) Seq("LMOVE", a, b,
          if (rnd.nextBoolean()) "LEFT" else "RIGHT",
          if (rnd.nextBoolean()) "LEFT" else "RIGHT")
        else Seq("RPOP", a)
      case 27 => Seq("DEL", key, keys(rnd.nextInt(keys.size)))
      case 28 => Seq("EXPIRE", key, (rnd.nextInt(100) + 1).toString)
      case 29 => Seq("PERSIST", key)
      case 30 => Seq("GETSET", key, v)
      case 31 => Seq("GETDEL", key)
      case 32 =>
        // only emit server-SUCCESSFUL renames — failures never
        // reach a replication stream (`key` is a def: bind ONCE or
        // the guard checks a different key than it renames). r16:
        // renames of UNTRACKED sources are generated too — the
        // movement pair must carry the tombstone to the destination.
        val src = key
        val dst = keys(rnd.nextInt(keys.size))
        if (src != dst && model.vals.contains(src))
          Seq("RENAME", src, dst)
        else Seq("SET", src, v)
      case 33 =>
        // set-algebra stores: only server-legal forms (every source
        // really set-or-absent) replicate; dst may even be a source
        // (the fold's chain rule tombstones it, mirrored by the
        // model's deferred-source drop)
        val dst = key
        val s1 = keys(rnd.nextInt(keys.size))
        val s2 = keys(rnd.nextInt(keys.size))
        def setOk(k2: String) = model.vals.get(k2) match {
          case Some(VSet(_)) | None => true
          case _ => false
        }
        val cmd2 = rnd.nextInt(3) match {
          case 0 => "SINTERSTORE"
          case 1 => "SUNIONSTORE"
          case _ => "SDIFFSTORE"
        }
        if (setOk(s1) && setOk(s2)) Seq(cmd2, dst, s1, s2)
        else Seq("SADD", dst, member)
      // stream writers: small clustered ids so the monotonicity
      // reject path, XDEL of live ids, and trims all fire often
      case 34 => Seq("XADD", key, xid, field, v)
      case 35 => Seq("XADD", key, "MAXLEN",
        rnd.nextInt(3).toString, xid, field, v, field, v + "b")
      case 36 => Seq("XADD", key, "NOMKSTREAM", xid, field, v)
      case 37 => Seq("XDEL", key, xid)
      case 38 =>
        if (rnd.nextBoolean())
          Seq("XTRIM", key, "MAXLEN", rnd.nextInt(3).toString)
        else Seq("XTRIM", key, "MINID", xid)
      case 39 => Seq("XSETID", key, xid)
      case 40 =>
        // weighted zset stores: sources must be zset/set/absent
        // (anything else errors server-side and never replicates)
        val dst = key
        val s1 = keys(rnd.nextInt(keys.size))
        val s2 = keys(rnd.nextInt(keys.size))
        def zOk(k2: String) = model.vals.get(k2) match {
          case Some(VZ(_)) | Some(VSet(_)) | None => true
          case _ => false
        }
        val cmd3 = rnd.nextInt(3) match {
          case 0 => "ZUNIONSTORE"
          case 1 => "ZINTERSTORE"
          case _ => "ZDIFFSTORE"
        }
        val opts: Seq[String] =
          if (cmd3 == "ZDIFFSTORE") Seq.empty
          else (if (rnd.nextBoolean())
            Seq("WEIGHTS", (rnd.nextInt(3) + 1).toString,
              (rnd.nextInt(3) + 1).toString)
          else Seq.empty) ++ (rnd.nextInt(3) match {
            case 0 => Seq("AGGREGATE", "MIN")
            case 1 => Seq("AGGREGATE", "MAX")
            case _ => Seq.empty
          })
        if (zOk(s1) && zOk(s2))
          Seq(cmd3, dst, "2", s1, s2) ++ opts
        else Seq("ZADD", key, score, member)
      case 41 =>
        // ZRANGESTORE: the source must really be zset-or-absent
        val dst = key
        val src = keys(rnd.nextInt(keys.size))
        val srcOk = model.vals.get(src) match {
          case Some(VZ(_)) | None => true
          case _ => false
        }
        if (!srcOk) Seq("ZADD", key, score, member)
        else rnd.nextInt(3) match {
          case 0 => Seq("ZRANGESTORE", dst, src,
            (rnd.nextInt(4) - 2).toString,
            (rnd.nextInt(5) - 2).toString) ++
            (if (rnd.nextBoolean()) Seq("REV") else Seq.empty)
          case 1 =>
            val lo = if (rnd.nextBoolean()) "-inf"
              else s"(${rnd.nextInt(11) - 5}"
            val hi = if (rnd.nextBoolean()) "+inf"
              else (rnd.nextInt(11) - 5).toString
            val rev = rnd.nextBoolean()
            Seq("ZRANGESTORE", dst, src) ++
              (if (rev) Seq(hi, lo, "BYSCORE", "REV")
              else Seq(lo, hi, "BYSCORE")) ++
              (if (rnd.nextBoolean())
                Seq("LIMIT", rnd.nextInt(2).toString,
                  (rnd.nextInt(4) - 1).toString)
              else Seq.empty)
          case _ =>
            val lo = rnd.nextInt(3) match {
              case 0 => "-"
              case 1 => "[m" + rnd.nextInt(6)
              case _ => "(m" + rnd.nextInt(6)
            }
            val hi = rnd.nextInt(3) match {
              case 0 => "+"
              case 1 => "[m" + rnd.nextInt(6)
              case _ => "(m" + rnd.nextInt(6)
            }
            val rev = rnd.nextBoolean()
            Seq("ZRANGESTORE", dst, src) ++
              (if (rev) Seq(hi, lo, "BYLEX", "REV")
              else Seq(lo, hi, "BYLEX"))
        }
      case 43 =>
        // RESTORE (r17): encode a small object generator-side in the
        // PLAIN RDB encodings (6-bit lengths, legacy ASCII zset
        // scores); the model decodes it with its own chars-based
        // reader. Only server-effective forms replicate: REPLACE, or
        // a really-absent destination (an untracked one may be
        // absent - both sides stay untracked). Occasionally a module
        // dump exercises the honest-tombstone path.
        val dst = key
        def enc6(n: Int) = (n & 0x3f).toChar.toString
        def estr(s: String) = enc6(s.length) + s
        // 2-byte version LE (11) + 8-byte CRC: structurally present,
        // unchecked by the decode
        val footer = "\u000b" + "\u0000" * 9
        val payload = rnd.nextInt(6) match {
          case 0 => "\u0000" + estr(v) + footer // string
          case 1 => "\u0001" + enc6(2) + estr(v) + estr(v + "b") +
            footer // list
          case 2 => "\u0002" + enc6(2) + estr(member) +
            estr("m" + rnd.nextInt(6)) + footer // set
          case 3 => "\u0004" + enc6(2) + estr("f1") + estr(v) +
            estr("f2") + estr(v + "b") + footer // hash
          case 4 => // legacy zset: u8 score length + ASCII digits
            val sc = (rnd.nextInt(21) - 10).toString
            "\u0003" + enc6(1) + estr(member) +
              sc.length.toChar + sc + footer
          case _ => "\u0007" + enc6(1) + footer // module: tombstone
        }
        val ttlMs =
          if (rnd.nextBoolean()) "0"
          else (rnd.nextInt(5000) + 1).toString
        val replace = rnd.nextBoolean()
        if (replace) Seq("RESTORE", dst, ttlMs, payload, "REPLACE")
        else if (!model.vals.contains(dst))
          Seq("RESTORE", dst, ttlMs, payload)
        else Seq("APPEND", dst, v)
      case 44 =>
        // GEOADD (r17): documented Sicily pairs, a coarse grid, and
        // the inclusive range boundary; occasional NX/XX
        val flags = rnd.nextInt(4) match {
          case 0 => Seq("NX")
          case 1 => Seq("XX")
          case _ => Seq.empty
        }
        val (lon, lat) = rnd.nextInt(4) match {
          case 0 => ("13.361389", "38.115556")
          case 1 => ("15.087269", "37.502669")
          case 2 => ((rnd.nextInt(361) - 180).toString,
            (rnd.nextInt(171) - 85).toString)
          case _ => ("180", "85.05112878")
        }
        Seq("GEOADD", key) ++ flags ++ Seq(lon, lat, member)
      case 45 =>
        // SETBIT (r17): small offsets so bytes collide with APPEND/
        // SETRANGE content; clears as often as sets
        Seq("SETBIT", key, rnd.nextInt(40).toString,
          if (rnd.nextBoolean()) "1" else "0")
      case 46 =>
        // BITOP (r17): only server-legal forms replicate (every
        // source really string-or-absent); dst may even be a source
        // (the fold's chain rule tombstones it, mirrored by the
        // model's deferred-source drop)
        val dst = key
        val s1 = keys(rnd.nextInt(keys.size))
        val s2 = keys(rnd.nextInt(keys.size))
        def strOk(k2: String) = model.vals.get(k2) match {
          case Some(VS(_)) | None => true
          case _ => false
        }
        rnd.nextInt(4) match {
          case 0 if strOk(s1) =>
            Seq("BITOP", "NOT", dst, s1)
          case 1 if strOk(s1) && strOk(s2) =>
            Seq("BITOP", "AND", dst, s1, s2)
          case 2 if strOk(s1) && strOk(s2) =>
            Seq("BITOP", "OR", dst, s1, s2)
          case 3 if strOk(s1) && strOk(s2) =>
            Seq("BITOP", "XOR", dst, s1, s2)
          case _ => Seq("SET", dst, v)
        }
      case 47 =>
        // BITFIELD (r17): one or two write subcommands, all three
        // overflow policies, typed and plain offsets, narrow and
        // wide fields
        val t1 = rnd.nextInt(5) match {
          case 0 => "u4"
          case 1 => "u8"
          case 2 => "i8"
          case 3 => "i16"
          case _ => "u6"
        }
        val o1 = if (rnd.nextBoolean()) "#" + rnd.nextInt(4)
          else rnd.nextInt(24).toString
        val a1 = (rnd.nextInt(601) - 300).toString
        val sub1 = Seq(if (rnd.nextBoolean()) "SET" else "INCRBY",
          t1, o1, a1)
        val pre = rnd.nextInt(3) match {
          case 0 => Seq("OVERFLOW", "SAT")
          case 1 => Seq("OVERFLOW", "FAIL")
          case _ => Seq.empty
        }
        val sub2 =
          if (rnd.nextBoolean())
            Seq("INCRBY", "i8", rnd.nextInt(16).toString,
              (rnd.nextInt(201) - 100).toString)
          else Seq.empty
        Seq("BITFIELD", key) ++ pre ++ sub1 ++ sub2
      case 48 =>
        // SORT ... STORE (r17): pattern-free forms over sortable-or-
        // absent sources; digit pushes (sometimes the "n.0" twin)
        // make numeric orders and window ties really occur; BY
        // patterns exercise the tombstone path; dst may even be the
        // source (deferred-source drop)
        val src = keys(rnd.nextInt(keys.size))
        val dst = key
        def sortable(k2: String) = model.vals.get(k2) match {
          case Some(VL(_)) | Some(VSet(_)) | Some(VZ(_)) | None =>
            true
          case _ => false
        }
        if (rnd.nextInt(3) == 0)
          model.vals.get(src) match {
            case Some(VL(_)) | None =>
              val n = rnd.nextInt(12)
              Seq("RPUSH", src,
                if (rnd.nextBoolean()) n.toString else s"$n.0")
            case _ => Seq("SET", dst, v)
          }
        else if (!sortable(src)) Seq("SET", dst, v)
        else {
          val lim =
            if (rnd.nextInt(3) == 0)
              Seq("LIMIT", rnd.nextInt(3).toString,
                (rnd.nextInt(5) - 1).toString)
            else Seq.empty
          val dir = if (rnd.nextBoolean()) Seq("DESC") else Seq.empty
          val al = if (rnd.nextBoolean()) Seq("ALPHA") else Seq.empty
          val by =
            if (rnd.nextInt(6) == 0) Seq("BY", "w_*") else Seq.empty
          Seq("SORT", src) ++ lim ++ dir ++ al ++ by ++
            Seq("STORE", dst)
        }
      case _ =>
        // COPY: only effective forms replicate — REPLACE, or a
        // really-absent destination
        val src = key
        val dst = keys(rnd.nextInt(keys.size))
        if (src != dst && model.vals.contains(src)) {
          if (rnd.nextBoolean()) Seq("COPY", src, dst, "REPLACE")
          else if (!model.vals.contains(dst)) Seq("COPY", src, dst)
          else Seq("APPEND", src, v)
        } else Seq("APPEND", src, v)
    }
  }

  // ---- the fold harness ----------------------------------------------

  private val noResets = new ResetPoints(Map.empty)

  private def opWindow(cmds: Seq[Seq[String]],
      sseg: String): Map[String, Seq[OpRow]] = {
    var rank = CommandRankBase
    val byKey = mutable.Map[String, mutable.Buffer[OpRow]]()
    cmds.foreach { argv =>
      val (_, ops) = commandOps(argv, 0L)
      ops.foreach { o =>
        rank += 1
        byKey.getOrElseUpdate(o.key, mutable.Buffer()) +=
          OpRow(sseg, rank, o.key, o.op, o.vtype, o.field, o.value, o.ex)
      }
    }
    byKey.view.mapValues(_.toSeq.sorted(opOrder)).toMap
  }

  /** The merger's two-phase shape, mirrored over plain maps: phase A
    * folds keys without an incoming movement and collects mvout
    * emissions; phase B folds movement destinations with the
    * emissions sorted into their op lists.
    */
  private def foldAll(base: Map[String, String],
      rows: Map[String, Seq[OpRow]]): Map[String, String] = {
    val all = base.keySet ++ rows.keySet
    val deferred = all.filter(k =>
      rows.get(k).exists(_.exists(_.op == "mvin")))
    val emitted = mutable.Map[String, mutable.Buffer[OpRow]]()
    val out = mutable.Map[String, String]()
    for (k <- all if !deferred(k)) {
      val (p, emits) = RedisStateOps.foldKeyEmit(k,
        base.get(k).orNull, rows.getOrElse(k, Seq.empty), noResets)
      emits.foreach { e =>
        emitted.getOrElseUpdate(e.key, mutable.Buffer()) += e
      }
      if (p != null) out(k) = p
    }
    for (k <- deferred) {
      val ops = (rows.getOrElse(k, Seq.empty) ++
        emitted.getOrElse(k, mutable.Buffer()).toSeq).sorted(opOrder)
      val p = foldKey(k, base.get(k).orNull, ops, noResets)
      if (p != null) out(k) = p
    }
    out.toMap
  }

  test("fold(random script) == independent server model, with the " +
      "tombstone lifecycle exact; window-split and replay-dedupe " +
      "invariants hold") {
    var scripts = 0
    var tombChecks = 0
    for (seed <- 1 to 120) {
      val rnd = new Random(seed * 7919L)
      // generation-time model: success-guarded commands (RENAME,
      // COPY, SMOVE/LMOVE destination types) consult REAL state as
      // of their position; trackedness is re-derived per windowing
      // below, so this instance serves the guards only
      val genModel = new Model
      val cmds = mutable.Buffer[Seq[String]]()
      for (_ <- 0 until 45) {
        val c = randomCommand(rnd, genModel)
        genModel.apply(c)
        cmds += c
      }
      val script = cmds.toSeq
      scripts += 1

      def check(fold: Map[String, String], model: Model,
          label: String): Unit =
        for (k <- keys) {
          val folded = fold.get(RedisStateOps.stateKey(0, k))
          if (model.untracked(k)) {
            tombChecks += 1
            assert(folded.forall(_.startsWith(TombPrefix)),
              s"seed=$seed [$label] untracked key $k folded as " +
                s"real state: ${folded.orNull}\nscript: " +
                cmds.map(_.mkString(" ")).mkString("; "))
          } else {
            val want = model.expected(k)
            assert(folded == want,
              s"seed=$seed [$label] key=$k\n fold: " +
                s"${folded.orNull}\n want: ${want.orNull}\n" +
                "script: " +
                cmds.map(_.mkString(" ")).mkString("; "))
          }
        }

      // single-pass fold over the whole script == a one-window model
      val onePass = foldAll(Map.empty,
        opWindow(script, "psync.000001.log"))
      val oneModel = new Model
      oneModel.applyWindow(script)
      check(onePass, oneModel, "one-pass")

      // window-split: cadence merges compose — trackedness is
      // WINDOW-DEPENDENT (a movement chain inside one window
      // tombstones its second hop; split across windows it
      // resolves), so the split fold compares against a model
      // applied with the same window boundaries
      val cut = rnd.nextInt(script.size)
      val w1 = foldAll(Map.empty,
        opWindow(script.take(cut), "psync.000001.log"))
      val w2rows = opWindow(script.drop(cut), "psync.000002.log")
      val split = foldAll(w1, w2rows)
      val splitModel = new Model
      splitModel.applyWindow(script.take(cut))
      splitModel.applyWindow(script.drop(cut))
      check(split, splitModel, s"split@$cut")

      // replay dedupe: double-landing window 2 changes nothing
      val doubled = w2rows.view
        .mapValues(ops => (ops ++ ops).sorted(opOrder)).toMap
      assert(foldAll(w1, doubled) == split,
        s"seed=$seed replayed window 2 diverged")
    }
    assert(scripts == 120)
    assert(tombChecks > 50, s"tombstone lifecycle under-exercised: " +
      s"$tombChecks checks")
  }

  test("SETRANGE mixed with SETBIT and non-ASCII text folds as the " +
      "model, dropping keys whose byte image is ambiguous") {
    // short two-key scripts so bit surgery and byte splices meet on a
    // key: a U+0080..U+00FF char is one byte after SETBIT and two
    // after SET, so a splice past one must drop, never land either
    val vocab = Vector("ab", "é", "aé", "a€", "😀", "\u0080x", "xyz")
    var drops = 0
    var exact = 0
    for (seed <- 1 to 200) {
      val rnd = new Random(seed * 104729L)
      def key = if (rnd.nextBoolean()) "k0" else "k1"
      def v = vocab(rnd.nextInt(vocab.size))
      val script = Seq.fill(8)(rnd.nextInt(5) match {
        case 0 => Seq("SET", key, v)
        case 1 => Seq("APPEND", key, v)
        case 2 => Seq("SETBIT", key, rnd.nextInt(32).toString,
          if (rnd.nextInt(3) == 0) "0" else "1")
        case _ => Seq("SETRANGE", key, rnd.nextInt(8).toString, v)
      })
      val model = new Model
      model.applyWindow(script)
      val fold = foldAll(Map.empty, opWindow(script, "psync.000001.log"))
      for (k <- Seq("k0", "k1")) {
        val folded = fold.get(RedisStateOps.stateKey(0, k))
        val msg = s"seed=$seed key=$k fold: ${folded.orNull}\n" +
          "script: " + script.map(_.mkString(" ")).mkString("; ")
        if (model.untracked(k)) {
          drops += 1
          assert(folded.forall(_.startsWith(TombPrefix)), msg)
        } else {
          exact += 1
          assert(folded == model.expected(k),
            s"$msg\n want: ${model.expected(k).orNull}")
        }
      }
    }
    assert(drops > 40 && exact > 40,
      s"under-exercised: $drops drops, $exact exact keys")
  }
}
