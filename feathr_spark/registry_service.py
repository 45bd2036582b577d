"""Registry HTTP service — the read/write API surface of the reference
registry service (`registry/sql-registry/main.py`), stdlib-only.

The reference ships a FastAPI app over a SQL/Purview backend; this repo
keeps the same METADATA (the JSON project documents
:class:`feathr_spark.client.FeathrClient` registers) and re-exposes the
endpoint surface with ``http.server`` so no web framework is needed in
the sandbox. Endpoints mirror the reference routes:

- ``GET  /projects``                       — project names
  (`main.py:77-79`)
- ``GET  /projects/{p}``                   — project graph with typed
  nodes + edges (`main.py:85-87` → ``registry.get_project``,
  `db_registry.py:164-183`); ``registry.project_lineage``
- ``GET  /projects/{p}/datasources``       — the project's source nodes
  (`main.py:108-114`)
- ``GET  /projects/{p}/features[?keyword=k&page=i&limit=n]`` — feature
  list with optional substring search + paging (`main.py:127-146`)
- ``GET  /features/{name}``                — one feature's definition
  (`main.py:148-154`; qualified or bare name)
- ``GET  /features/{name}/lineage``        — upstream+downstream
  closure (`main.py:156-159`); ``registry.feature_lineage``
- ``GET  /dependent/{name}``               — downstream dependents of a
  feature (`main.py:89-93`): the features whose lineage closure
  consumes it (derived/lookup chains)
- ``DELETE /entity/{name}``                — delete a feature from its
  project document, refused with 412 while dependents exist
  (`main.py:95-107`); deleting a whole project removes its document
- ``POST /projects``                       — create/replace a project
  document (`main.py:161-165`); body = the registry JSON document

Errors map to the reference's handlers (`main.py:63-75`): unknown
entity → 404 with ``{"detail": ...}``, bad payload → 400.

Storage, document format, lineage and dependents all come from
:mod:`feathr_spark.registry`; this module only routes HTTP.

Deployment: run ONE writer process. Its mutations (POST, DELETE) are
serialized in-process, so concurrent requests never lose an update;
there is no cross-process lock, so any extra replicas behind a load
balancer must be read-only. Writes are tmp+rename, so readers never
observe a torn project document.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from feathr_spark.registry import (
    PreconditionError,
    Registry,
    feature_lineage,
    project_lineage,
)


class _Handler(BaseHTTPRequestHandler):
    registry: Registry  # set by serve_registry

    def log_message(self, *args) -> None:  # quiet test runs
        pass

    def _send(self, code: int, payload) -> None:
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self) -> None:  # noqa: N802 (stdlib naming)
        u = urlparse(self.path)
        parts = [p for p in u.path.split("/") if p]
        q = {k: v[0] for k, v in parse_qs(u.query).items()}
        r = self.registry
        try:
            if parts == ["projects"]:
                return self._send(200, r.projects())
            if len(parts) == 2 and parts[0] == "projects":
                return self._send(200, project_lineage(r.read(parts[1])))
            if len(parts) == 3 and parts[0] == "projects" \
                    and parts[2] == "datasources":
                g = project_lineage(r.read(parts[1]))
                return self._send(200, [n for n in g["nodes"]
                                        if n["type"] == "source"])
            if len(parts) == 3 and parts[0] == "projects" \
                    and parts[2] == "features":
                page = int(q["page"]) if "page" in q else None
                limit = int(q["limit"]) if "limit" in q else None
                return self._send(200, r.features(
                    parts[1], q.get("keyword"), page, limit))
            if len(parts) >= 2 and parts[0] == "dependent":
                return self._send(200, r.dependents("/".join(parts[1:])))
            if len(parts) >= 2 and parts[0] == "features":
                # a qualified name ("{project}/{feature}") spans two
                # path segments — rejoin everything before a trailing
                # "lineage"
                if parts[-1] == "lineage" and len(parts) >= 3:
                    project, f = r.find("/".join(parts[1:-1]))
                    return self._send(200, feature_lineage(
                        r.read(project), f["name"]))
                project, f = r.find("/".join(parts[1:]))
                return self._send(200, dict(f, project=project))
            return self._send(404, {"detail": f"no route {u.path}"})
        except KeyError as e:  # main.py:63-68 key_error_handler -> 404
            return self._send(404, {"detail": str(e)})
        except ValueError as e:  # main.py:48-53 -> 400
            return self._send(400, {"detail": str(e)})

    def do_DELETE(self) -> None:  # noqa: N802
        parts = [p for p in urlparse(self.path).path.split("/") if p]
        try:
            if len(parts) >= 2 and parts[0] == "entity":
                return self._send(200, self.registry.delete_entity(
                    "/".join(parts[1:])))
            return self._send(404, {"detail": f"no route {self.path}"})
        except PreconditionError as e:  # main.py:100 -> 412
            return self._send(412, {"detail": str(e)})
        except KeyError as e:
            return self._send(404, {"detail": str(e)})
        except ValueError as e:
            return self._send(400, {"detail": str(e)})

    def do_POST(self) -> None:  # noqa: N802
        u = urlparse(self.path)
        parts = [p for p in u.path.split("/") if p]
        try:
            n = int(self.headers.get("Content-Length", "0"))
            doc = json.loads(self.rfile.read(n) or b"{}")
            # POST /projects with {"project": name, ...} (main.py:161-165)
            if parts == ["projects"] and isinstance(doc, dict) \
                    and doc.get("project"):
                self.registry.write(doc["project"], doc)
                return self._send(200, {"guid": doc["project"]})
            return self._send(400, {"detail": "expected a project "
                                              "document with 'project'"})
        except (ValueError, json.JSONDecodeError) as e:
            return self._send(400, {"detail": str(e)})


def serve_registry(registry_dir: str, host: str = "127.0.0.1",
                   port: int = 0) -> ThreadingHTTPServer:
    """Start the registry service on a daemon thread; returns the
    server (``server.server_address`` has the bound port, pass
    ``port=0`` for an ephemeral one; ``server.shutdown()`` stops it)."""
    handler = type("BoundHandler", (_Handler,),
                   {"registry": Registry(registry_dir)})
    srv = ThreadingHTTPServer((host, port), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv
