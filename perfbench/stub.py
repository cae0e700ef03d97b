"""Loopback httpbin stub for the reference's HTTP client stage.

Serves the eight paths the client calls, with httpbin's shapes: basic
auth, the cookie set (302) and echo, a 403, `/get`, `/xml`, `/html`, a
form POST echo and `/redirect-to`. It counts hits per path and keeps the
bodies it served, so the client's artifacts can be checked against them.
"""
import base64
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qsl, urlsplit

USER, PASSWORD = "usuario_test", "clave123"
XML = """<?xml version='1.0' encoding='us-ascii'?>

<!--  A SAMPLE set of slides  -->

<slideshow
    title="Sample Slide Show"
    date="Date of publication"
    author="Yours Truly"
    >

    <!-- TITLE SLIDE -->
    <slide type="all">
      <title>Wake up to WonderWidgets!</title>
    </slide>

    <!-- OVERVIEW -->
    <slide type="all">
        <title>Overview</title>
        <item>Why <em>WonderWidgets</em> are great</item>
        <item/>
        <item>Who <em>buys</em> WonderWidgets</item>
    </slide>

</slideshow>"""
HTML_TITLE = "Herman Melville - Moby-Dick"
HTML = ("<!DOCTYPE html>\n<html>\n  <head>\n  </head>\n  <body>\n"
        f"      <h1>{HTML_TITLE}</h1>\n\n      <div>\n        <p>\n"
        "          Availing himself of the mild, summer-cool weather that now reigned "
        "in these latitudes, ...\n        </p>\n      </div>\n  </body>\n</html>")
# the client's eight tasks, and every path they reach (the cookie set and the
# redirect are followed to /cookies and /get)
TASKS = ["basic-auth", "cookies", "status-403", "get", "xml", "html", "post", "redirect"]
PATHS = ["/basic-auth/usuario_test/clave123", "/cookies/set", "/cookies", "/status/403",
         "/get", "/xml", "/html", "/post", "/redirect-to"]


class Stub:
    def __init__(self):
        self.hits = {}
        self.times = {}
        self.served_get = None
        self.lock = threading.Lock()
        stub = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def _reply(self, code, body=b"", ctype="application/json", headers=()):
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                for k, v in headers:
                    self.send_header(k, v)
                self.end_headers()
                self.wfile.write(body)

            def _json(self, obj):
                body = json.dumps(obj, indent=2).encode() + b"\n"
                self._reply(200, body)
                return body

            def _count(self):
                u = urlsplit(self.path)
                with stub.lock:
                    stub.hits[u.path] = stub.hits.get(u.path, 0) + 1
                    stub.times.setdefault(u.path, []).append(time.monotonic())
                return u

            def _route(self):
                u = self._count()
                args = dict(parse_qsl(u.query))
                url = f"http://{self.headers.get('Host')}{self.path}"
                if u.path == "/basic-auth/usuario_test/clave123":
                    tok = base64.b64encode(f"{USER}:{PASSWORD}".encode()).decode()
                    if self.headers.get("Authorization") == f"Basic {tok}":
                        return self._json({"authenticated": True, "user": USER})
                    return self._reply(401)
                if u.path == "/cookies/set":
                    cookies = [("Set-Cookie", f"{k}={v}; Path=/") for k, v in args.items()]
                    return self._reply(302, ctype="text/html",
                                       headers=[("Location", "/cookies")] + cookies)
                if u.path == "/cookies":
                    jar = dict(c.strip().split("=", 1) for c in
                               (self.headers.get("Cookie") or "").split(";") if "=" in c)
                    return self._json({"cookies": jar})
                if u.path == "/status/403":
                    return self._reply(403, ctype="text/html")
                if u.path == "/get":
                    body = self._json({"args": args, "headers": {"Host": self.headers.get("Host")},
                                       "origin": "127.0.0.1", "url": url})
                    with stub.lock:
                        stub.served_get = stub.served_get or body
                    return None
                if u.path == "/xml":
                    return self._reply(200, XML.encode(), "application/xml")
                if u.path == "/html":
                    return self._reply(200, HTML.encode(), "text/html; charset=utf-8")
                if u.path == "/redirect-to":
                    return self._reply(302, ctype="text/html",
                                       headers=[("Location", args.get("url", "/get"))])
                return self._reply(404)

            def do_GET(self):
                self._route()

            def do_POST(self):
                n = int(self.headers.get("Content-Length") or 0)
                data = self.rfile.read(n).decode()
                if self._count().path != "/post":
                    return self._reply(404)
                self._json({"args": {}, "data": "", "form": dict(parse_qsl(data)),
                            "url": f"http://{self.headers.get('Host')}{self.path}"})

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.server.daemon_threads = True
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)

    @property
    def base_url(self):
        return f"http://127.0.0.1:{self.server.server_address[1]}"

    def __enter__(self):
        self.thread.start()
        return self

    def __exit__(self, *exc):
        self.server.shutdown()
        self.server.server_close()
        self.thread.join()

    def requests(self):
        return sum(self.hits.values())

    def retries(self):
        """Requests beyond the first per retried call: the client retries
        only the 403, so its extra hits are the retries."""
        return max(self.hits.get("/status/403", 0) - 1, 0)

    def check_artifacts(self, out_dir):
        """Compare the client's three artifacts with what was served."""
        import os
        try:
            with open(os.path.join(out_dir, "datos.json"), encoding="utf-8") as fh:
                datos = fh.read()
            with open(os.path.join(out_dir, "datos.xml"), encoding="utf-8") as fh:
                xml = fh.read()
            with open(os.path.join(out_dir, "titulo.html"), encoding="utf-8") as fh:
                title = fh.read()
        except OSError as e:
            return f"missing client artifact: {e}"
        if self.served_get is None:
            return "client never fetched /get"
        want = json.dumps(json.loads(self.served_get), ensure_ascii=False, indent=2)
        if datos != want:
            return "datos.json differs from the served /get body"
        if xml != XML:
            return "datos.xml differs from the served /xml body"
        if title != HTML_TITLE:
            return f"titulo.html is {title!r}, expected {HTML_TITLE!r}"
        missing = [p for p in PATHS if p not in self.hits]
        if missing:
            return f"client never called {missing}"
        return None
