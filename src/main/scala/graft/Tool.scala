package graft

import org.apache.spark.sql.SparkSession

/** The one measurement main: times, plans and probes declared queries
  * and the drill legs of [[Legs]] over one [[Harness]].
  *
  * {{{
  * runMain graft.Tool <time|drill|plan|aqe> [flags] <name>...
  *   time  <query>...        min-of-N noop-sink timing
  *   drill <leg>...          the same timer over a drill leg's frames
  *   plan  <query|leg>...    static plan shape per frame (no names: every query)
  *   aqe   <query|leg>...    join flavors of the finalized adaptive plan
  * flags:
  *   --reps N                runs per frame, the minimum reported (default 2)
  *   --scale X               multiplies each leg's base size (default 1)
  *   --conf key=v1[,v2...]   session conf for the run; several values
  *                           interleave per frame as an in-JVM A/B
  *   --out dir               plan: write each frame's formatted plan here
  * }}}
  *
  * Env: `SPARK_GRAFT_SF_DIR` (required: the data directory) and
  * `SPARK_GRAFT_CPUS` (default: the host's cores). Exit status: 0 when
  * every name ran, 1 when one failed, 2 on a usage error.
  */
object Tool {
  private val Usage = "usage: graft.Tool <time|drill|plan|aqe> [--reps N] [--scale X] " +
    "[--conf key=v1[,v2...]] [--out dir] <name>..."

  /** Subcommand -> (takes queries, takes legs). */
  private val Commands = Map(
    "time" -> (true, false), "drill" -> (false, true),
    "plan" -> (true, true), "aqe" -> (true, true))

  private final case class Opts(reps: Int = 2, scale: Double = 1.0,
                                conf: Option[(String, Seq[String])] = None,
                                out: Option[String] = None, names: Vector[String] = Vector.empty)

  def main(args: Array[String]): Unit = {
    val code = sys.env.get("SPARK_GRAFT_SF_DIR") match {
      case None => Console.err.println(s"SPARK_GRAFT_SF_DIR is not set\n$Usage"); 2
      case Some(sfDir) =>
        try run(args.toSeq, Harness.session(), sfDir)
        finally SparkSession.getActiveSession.foreach(_.stop())
    }
    sys.exit(code)
  }

  /** Runs one command line against `spark`, which is not built when the
    * arguments are rejected. Returns the exit status. */
  def run(args: Seq[String], spark: => SparkSession, sfDir: String): Int = {
    def usage(msg: String): Int = { Console.err.println(s"$msg\n$Usage"); 2 }
    args match {
      case cmd +: rest if Commands.contains(cmd) => parse(rest.toList, Opts()) match {
        case Left(msg) => usage(msg)
        case Right(o) =>
          val (takesQueries, takesLegs) = Commands(cmd)
          val queries = SparkEntry.queries.keys.toSeq.sorted
          val valid = (if (takesQueries) queries else Nil) ++
            (if (takesLegs) Legs.all.keys.toSeq.sorted else Nil)
          val names = if (o.names.nonEmpty) o.names else if (takesQueries) queries else valid
          val unknown = names.filterNot(valid.contains)
          if (unknown.nonEmpty)
            usage(s"unknown $cmd names: ${unknown.mkString(", ")}; valid names: ${valid.mkString(", ")}")
          else {
            val h = new Harness(spark, sfDir, cmd, o.reps, o.scale, o.conf, o.out)
            try {
              val ok = names.map(n => h.run(n, Legs.all.getOrElse(n,
                (h: Harness) => { h.time("")(SparkEntry.queries(n)(h.spark, h.sfDir)); () })))
              if (ok.forall(identity)) 0 else 1
            } finally h.close()
          }
      }
      case _ => usage("missing or unknown subcommand")
    }
  }

  @annotation.tailrec
  private def parse(args: List[String], o: Opts): Either[String, Opts] = args match {
    case "--reps" :: n :: t if n.toIntOption.exists(_ > 0) => parse(t, o.copy(reps = n.toInt))
    case "--scale" :: x :: t if x.toDoubleOption.exists(_ > 0) =>
      parse(t, o.copy(scale = x.toDouble))
    case "--conf" :: kv :: t if kv.matches("[^=]+=.+") =>
      val Array(k, v) = kv.split("=", 2)
      parse(t, o.copy(conf = Some(k -> v.split(",").toSeq)))
    case "--out" :: dir :: t => parse(t, o.copy(out = Some(dir)))
    case flag :: _ if flag.startsWith("--") => Left(s"bad flag or value: ${args.take(2).mkString(" ")}")
    case name :: t => parse(t, o.copy(names = o.names :+ name))
    case Nil => Right(o)
  }
}
