"""Server process of the service workload: the engine session behind the
HTTP façade (``http_api.serve_background``), driven over stdin.

Commands, one per line; each reply is one stdout line starting with
``REPLY_PREFIX`` followed by JSON (other stdout lines are not replies):

- ``start <json extra_conf>``: stop any running server and session, build
  the session with ``session.get_spark`` and serve on a free port; replies
  ``{"port", "session_s"}``;
- ``stats``: replies ``{"handles", "rss_mb", "driver_peak_mb",
  "jvm_peak_mb"}`` — handles the façade retains, the resident memory of
  this process plus its JVM, and each one's peak;
- ``stop`` (or end of input): shuts down and exits.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import common  # noqa: E402

REPLY_PREFIX = "PERFBENCH "
DRIVER_MEMORY = "2g"
APP = "perfbench-service"


def reply(payload: dict) -> None:
    sys.stdout.write(REPLY_PREFIX + json.dumps(payload) + "\n")
    sys.stdout.flush()


def main() -> int:
    common.engine_env(DRIVER_MEMORY)
    from go_web_mapreduce_spark.http_api import serve_background
    from go_web_mapreduce_spark.session import get_spark

    spark = server = None
    try:
        for line in sys.stdin:
            cmd, _, arg = line.strip().partition(" ")
            if cmd == "start":
                if server is not None:
                    server.shutdown()
                    server.server_close()
                    spark.stop()
                t0 = time.perf_counter()
                spark = get_spark(APP, extra_conf=json.loads(arg or "{}"))
                server = serve_background(spark)
                reply({"port": server.server_address[1],
                       "session_s": time.perf_counter() - t0})
            elif cmd == "stats":
                jvm = common.jvm_pid(spark)
                reply({"handles": len(server.api.handles),
                       "rss_mb": common.rss_mb() + common.rss_mb(jvm),
                       "driver_peak_mb": common.rss_mb(peak=True),
                       "jvm_peak_mb": common.rss_mb(jvm, peak=True)})
            elif cmd == "stop":
                break
            else:
                reply({"error": f"unknown command {cmd!r}"})
    finally:
        if server is not None:
            server.shutdown()
            server.server_close()
        if spark is not None:
            common.stop_engine(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
