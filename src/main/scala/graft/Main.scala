package graft

import graft.server.{GigHttpServer, GraftConfig}

/** The runnable service — the analog of the reference's `main.go:31-39`:
  * load config (YAML file arg / GIGAPI_CONFIG, env overrides), boot the
  * HTTP server, block. Usage:
  *
  *   sbt "runMain graft.Main [config.yaml]"
  *   GIGAPI_ROOT=/data PORT=7971 sbt "runMain graft.Main"
  *
  * The session is [[GraftSession]]'s profile, so the same entrypoint
  * serves a laptop and a spark-submit'd cluster driver.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val cfgFile = args.headOption.orElse(sys.env.get("GIGAPI_CONFIG"))
    cfgFile match {
      case Some(f) => println(s"Using config file: $f")
      case None => println("Using environment variables for configuration")
    }
    val cfg = GraftConfig.load(cfgFile)
    println(s"Loaded configuration: $cfg")

    val spark = GraftSession("graft")

    val server = GigHttpServer.fromConfig(spark, cfg).start()
    sys.addShutdownHook {
      server.close()
      spark.stop()
    }
    println(s"GigAPI Running: ${cfg.host}:${server.boundPort}")
    // serve until killed — the HTTP pool is non-daemon, but parking the
    // main thread keeps behavior identical under all launchers
    Thread.currentThread().join()
  }
}
