package graft

package object pipeline {

  /** The pipeline mains' `--key value` options. */
  private[pipeline] def options(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap

  /** The main's session; `--cores` overrides the default core count. */
  private[pipeline] def session(app: String, opts: Map[String, String]) =
    Sessions(app, opts.get("--cores").fold(Sessions.defaultCores)(_.toInt))
}
