"""Loopback stub Doppler + stub UAA for live-socket firehose tests.

The reference's own suite drives its consumer against in-process
websocket test servers (noaa consumer tests use httptest +
gorilla/websocket); this is the same idea on stdlib sockets, built on
the package's own RFC 6455 server half (rfc6455.server_handshake), so
the REAL client path — TCP connect, HTTP Upgrade, auth header,
binary dropsonde frames, close codes — is
exercised end-to-end with zero third-party dependencies and zero
external egress.

Session scripting: each accepted websocket consumes the next session
spec, a dict of
  frames: list[bytes]      binary payloads to send after the upgrade
  interval: float          optional: seconds between frames, on a fixed
                           schedule from the upgrade (the first frame
                           goes out one interval after it); default 0
                           sends them back to back
  then:   "close"          normal close (1000)
          "close1008"      policy-violation close — go-nozzle's
                           slow-consumer signal (detector.go:71-99)
          "silent"         keep the socket open and send nothing (lets
                           the client's idle timeout fire, ST5)
          "drop"           drop TCP without a close frame
          "await_close"    keep the socket open and block in recv until
                           the client closes it; the time.monotonic() of
                           the close is appended to ``closed``
When the script runs out, extra connections get a "silent" session, so
a reconnecting client parks harmlessly instead of erroring the test.
"""

from __future__ import annotations

import json
import socket
import ssl
import threading
import time
import urllib.parse
from http.server import BaseHTTPRequestHandler, HTTPServer

from kafka_firehose_nozzle_spark.sources import rfc6455


class StubDoppler:
    def __init__(
        self,
        sessions: list[dict],
        token: str | None = None,
        ssl_context: ssl.SSLContext | None = None,
    ):
        self.sessions = list(sessions)
        self.token = token
        self.ssl_context = ssl_context
        self.requests: list[dict] = []  # {"path":…, "headers":…} per conn
        self.rejected: list[dict] = []  # same shape, 401-refused dials
        self.closed: list[float] = []  # client closes seen by "await_close"
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._threads: list[threading.Thread] = []
        self._listener = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._listener.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._listener.bind(("127.0.0.1", 0))
        self._listener.listen(8)
        self.port = self._listener.getsockname()[1]
        self.address = f"ws{'s' if ssl_context else ''}://127.0.0.1:{self.port}"

    # -- lifecycle -----------------------------------------------------
    def __enter__(self) -> "StubDoppler":
        t = threading.Thread(target=self._accept_loop, daemon=True)
        t.start()
        self._threads.append(t)
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        # close() alone leaves the accept thread blocked in accept();
        # shutdown wakes it, so the join below does not wait its timeout
        try:
            self._listener.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        try:
            self._listener.close()
        except OSError:
            pass
        for t in self._threads:
            t.join(timeout=5)

    # -- internals -------------------------------------------------------
    def _next_session(self) -> dict:
        with self._lock:
            if self.sessions:
                return self.sessions.pop(0)
        return {"frames": [], "then": "silent"}

    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                sock, _ = self._listener.accept()
            except OSError:
                return
            t = threading.Thread(
                target=self._serve_one, args=(sock,), daemon=True
            )
            t.start()
            self._threads.append(t)

    def _authorize(self, path: str, headers: dict):
        if self.token is not None and headers.get("authorization") != self.token:
            # a real traffic controller answers a bad token with 401 and
            # a body (noaa reads it, async.go:440-444)
            with self._lock:
                self.rejected.append({"path": path, "headers": dict(headers)})
            return 401, "Unauthorized", b"Error: Invalid authorization"
        return None

    def _serve_one(self, sock: socket.socket) -> None:
        try:
            if self.ssl_context is not None:
                sock = self.ssl_context.wrap_socket(sock, server_side=True)
            conn = rfc6455.server_handshake(sock, authorize=self._authorize)
        except (rfc6455.WSError, OSError, ssl.SSLError):
            return
        with self._lock:
            self.requests.append(
                {"path": conn.path, "headers": dict(conn.headers)}
            )
        sess = self._next_session()
        # "set_token": rotate the token the server accepts, effective
        # for every LATER dial (this connection already authorized) —
        # simulates token expiry mid-stream so soaks can force the
        # reader through multiple 401 -> UAA-refetch cycles
        if sess.get("set_token") is not None:
            with self._lock:
                self.token = sess["set_token"]
        interval = sess.get("interval", 0)
        t0 = time.monotonic()
        try:
            for i, frame in enumerate(sess.get("frames", ())):
                if interval and self._stop.wait(
                    max(0.0, t0 + (i + 1) * interval - time.monotonic())
                ):
                    return
                conn.send_binary(frame)
            then = sess.get("then", "silent")
            if then == "close":
                conn.close(rfc6455.CLOSE_NORMAL)
            elif then == "close1008":
                conn.close(rfc6455.CLOSE_POLICY_VIOLATION, "slow consumer")
            elif then == "drop":
                sock.close()
            elif then == "await_close":
                while not self._stop.is_set():
                    try:
                        conn.recv(timeout=0.2)
                    except TimeoutError:
                        continue
                    except (OSError, rfc6455.WSError):
                        with self._lock:
                            self.closed.append(time.monotonic())
                        return
            else:  # "silent": hold the socket open until the test ends
                self._stop.wait()
                conn.close(1001)  # going away
        except (OSError, rfc6455.WSError):
            pass


class StubUAA:
    """Loopback UAA answering the password grant exactly as uaago expects
    (go-nozzle token.go:37-66: POST /oauth/token, Basic cf:, form-encoded
    password grant -> {token_type, access_token})."""

    def __init__(
        self,
        username: str = "u",
        password: str = "p",
        rotate: bool = False,
        html_outage_responses: int = 0,
    ):
        """``rotate=True`` issues ``tok-<user>-<n>`` with n incrementing
        per grant — lets tests simulate token expiry (the old token stops
        being the one the Doppler accepts). ``html_outage_responses=N``
        answers the first N grants with 200 + an HTML maintenance page
        (the partial-outage LB failure mode) before behaving normally."""
        stub = self
        self.calls = 0
        self._outage_left = html_outage_responses

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # keep pytest output clean
                pass

            def do_POST(self):
                if stub._outage_left > 0:
                    stub._outage_left -= 1
                    body = b"<html>maintenance</html>"
                    self.send_response(200)
                    self.send_header("Content-Type", "text/html")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                    return
                body = self.rfile.read(
                    int(self.headers.get("Content-Length", 0))
                ).decode()
                form = dict(urllib.parse.parse_qsl(body))
                ok = (
                    self.path == "/oauth/token"
                    and self.headers.get("Authorization") == "Basic Y2Y6"
                    and form.get("grant_type") == "password"
                    and form.get("username") == stub.username
                    and form.get("password") == stub.password
                )
                if ok:
                    stub.calls += 1
                    user = form.get("username", "")
                    access = (
                        f"tok-{user}-{stub.calls}" if rotate else f"tok-{user}"
                    )
                    payload = {"token_type": "bearer", "access_token": access}
                else:
                    payload = {"error": "unauthorized"}
                data = json.dumps(payload).encode()
                self.send_response(200 if ok else 401)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

        self.username = username
        self.password = password
        self._server = HTTPServer(("127.0.0.1", 0), Handler)
        self.port = self._server.server_port
        self.address = f"http://127.0.0.1:{self.port}"

    def __enter__(self) -> "StubUAA":
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=5)
