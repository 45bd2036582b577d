#!/usr/bin/env python
"""Run the registry HTTP service over a registry directory.

The ops-side entry for :mod:`feathr_spark.registry_service` (the
reference runs its registry as a standalone FastAPI app next to the
Spark jobs — `registry/sql-registry/main.py`): point it at the same
``registry_dir`` the :class:`feathr_spark.client.FeathrClient` writes
and the feature metadata becomes browsable over HTTP.

    python jobs/registry_server.py --dir /path/to/registry --port 8085

Prints one JSON line with the bound address, then serves until
interrupted. No Spark session is needed: without one, the registry's
file I/O takes fsio's POSIX fallback, so ``--dir`` must be a local path
or a ``file://`` URI. Run ONE such process per registry directory: its
mutations (POST, DELETE) are serialized in-process, but nothing locks
across processes, so any extra replicas must be read-only.
"""
from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True, help="registry directory "
                    "(FeathrClient registry_dir)")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8085)
    args = ap.parse_args(argv)

    from feathr_spark.registry_service import serve_registry

    srv = serve_registry(args.dir, host=args.host, port=args.port)
    host, port = srv.server_address
    print(json.dumps({"serving": f"http://{host}:{port}",
                      "registry_dir": args.dir}), flush=True)
    try:
        import threading
        threading.Event().wait()
    except KeyboardInterrupt:
        srv.shutdown()


if __name__ == "__main__":
    main()
