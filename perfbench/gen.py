"""Load generator: a loopback firehose that serves seeded dropsonde frames.

Runs as its own process, separate from the system under test. It listens
on 127.0.0.1, prints ``PORT <n>`` and serves each websocket connection by
the subscription id in its path (``/firehose/<id>``), all from one seeded
frame list:

- ``measured``: a burst of other frames, which becomes the consumer's
  first micro-batch; then the parts of ``frames.MEASURED_PARTS``, each
  once a ``go`` session arrives: the warm-up frames back to back; the
  paced frames on an open-loop schedule, where frame ``i`` is due at
  ``t0 + i / PACED_RATE`` and goes out then, however far the consumer
  has fallen behind, and how late each went out is recorded; the flood
  frames as fast as the socket accepts them, which TCP backpressure
  turns into a closed loop. A frame sent back to back is due when its
  write starts.
- ``probe-<k>``: the probe frames, back to back.
- ``setup``: the burst, then one frame every 100 ms until the client
  leaves, so a set-up query never waits on a silent socket.
- ``go``: starts the next part of the measured session.
- ``stop``: ends every session open at that moment. The consumer asks
  for it while it stops the measured query, whose reader would otherwise
  sit in a blocking read after the last frame.

Session sizes come from ``frames.session_frames(--seconds)``. The due
time of every frame after the burst is written as float64 to
``<report>.due`` once the last one is out. Closing the generator's stdin
stops it; it then writes ``--report`` (JSON).

Usage: python3 -m perfbench.gen --seed 1 --seconds 8 --report out/gen.json
"""

from __future__ import annotations

import argparse
import array
import json
import socket
import sys
import threading
import time

from kafka_firehose_nozzle_spark.sources import rfc6455
from kafka_firehose_nozzle_spark.sources.dropsonde_wire import encode_envelope

from perfbench import frames

_CHUNK = 64  # frames per sendall while flooding or catching up


def wire_frame(env: dict) -> bytes:
    """An envelope as the firehose sends it: one unmasked binary frame."""
    return rfc6455.encode_frame(rfc6455.OP_BINARY, encode_envelope(env), mask=False)


class Generator:
    def __init__(self, args):
        self.args = args
        self.sizes = frames.session_frames(args.seconds)
        self.frames: list[bytes] = []
        self.ready = threading.Event()  # the measured frames are encoded
        self.stop = threading.Event()  # stdin closed: shut down
        self.epoch = 0  # bumped by a "stop" session
        self.go = threading.Event()  # set by a "go" session
        self.late = array.array("d")
        self.sent = 0
        self.sessions: list[str] = []
        self._threads: list[threading.Thread] = []

    # -- sessions -------------------------------------------------------
    def serve(self, sock: socket.socket) -> None:
        epoch = self.epoch

        def live() -> bool:
            return self.epoch == epoch and not self.stop.is_set()

        try:
            sub = rfc6455.server_handshake(sock).path.rsplit("/", 1)[-1].split("?")[0]
            self.sessions.append(sub)
            if sub == "stop":
                self.epoch += 1
                return
            if sub == "go":
                self.go.set()
                return
            if sub.startswith("setup"):
                sock.sendall(b"".join(self.burst))
                i = 0
                while live() and not self.stop.wait(0.1):
                    sock.sendall(self.burst[i % len(self.burst)])
                    i += 1
                return
            self.ready.wait()
            if sub == "measured":
                # the burst is the query's first batch
                sock.sendall(b"".join(self.burst))
                due, i = array.array("d"), 0
                for part, rate in frames.MEASURED_PARTS:
                    # the consumer has committed every frame sent so far
                    self.wait_go(live)
                    n = self.sizes[part]
                    due += self.send(sock, self.frames[i : i + n], rate, live)
                    i += n
                with open(f"{self.args.report}.due", "wb") as f:
                    due.tofile(f)
            else:
                self.send(sock, self.frames[: self.sizes["probe"]], 0.0, live)
            # hold the connection open until the client leaves
            sock.settimeout(0.2)
            while live():
                try:
                    if not sock.recv(4096):
                        return
                except socket.timeout:
                    continue
        except (OSError, rfc6455.WSError):
            pass  # the client went away: its session is over
        finally:
            sock.close()

    def wait_go(self, live) -> None:
        while live() and not self.go.wait(0.1):
            pass
        self.go.clear()

    def send(self, sock, batch: list[bytes], rate: float, live) -> array.array:
        """Send ``batch`` on the open-loop schedule ``rate`` (frames/s),
        or back to back when ``rate`` is 0; returns each frame's due time.
        On a schedule, how late each frame went out is appended to
        ``self.late``; back to back, a frame is due when its write
        starts."""
        due = array.array("d")
        t0, n, i = time.time(), len(batch), 0
        while i < n and live():
            now = time.time()
            if rate > 0:
                # every frame already due goes out now, in one write
                j = min(n, int((now - t0) * rate) + 1, i + _CHUNK)
                if j <= i:
                    time.sleep(max(0.0, min(0.002, t0 + i / rate - now)))
                    continue
                dues = [t0 + k / rate for k in range(i, j)]
            else:
                j = min(n, i + _CHUNK)
                dues = [now] * (j - i)
            sock.sendall(b"".join(batch[i:j]))
            sent_at = time.time()
            due.extend(dues)
            if rate > 0:
                self.late.extend(sent_at - d for d in dues)
            self.sent += j - i
            i = j
        return due

    # -- lifecycle ------------------------------------------------------
    def run(self) -> None:
        a = self.args
        lsock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        lsock.bind(("127.0.0.1", 0))
        lsock.listen(8)
        lsock.settimeout(0.2)
        print(f"PORT {lsock.getsockname()[1]}", flush=True)
        self.burst = [
            wire_frame(e)
            for e in frames.envelopes(a.seed + 1, frames.BURST_FRAMES)
        ]
        accept = threading.Thread(target=self.accept_loop, args=(lsock,))
        accept.start()
        # encode while the consumer starts; measured sessions wait for it
        measured = sum(self.sizes[part] for part, _ in frames.MEASURED_PARTS)
        envs = frames.envelopes(a.seed, max(measured, self.sizes["probe"]))
        self.frames = [wire_frame(e) for e in envs]
        self.ready.set()
        sys.stdin.read()  # parent closes stdin to stop us
        self.stop.set()
        accept.join()
        for t in self._threads:
            t.join(timeout=5)
        lsock.close()
        late = sorted(self.late)
        p99 = late[min(len(late) - 1, int(0.99 * len(late)))] if late else 0.0
        with open(a.report, "w") as f:
            json.dump(
                dict(
                    sent=self.sent,
                    bytes=sum(map(len, self.frames)),
                    lag_p99_ms=1000.0 * p99,
                    lag_max_ms=1000.0 * (late[-1] if late else 0.0),
                    sessions=self.sessions,
                ),
                f,
            )

    def accept_loop(self, lsock: socket.socket) -> None:
        while not self.stop.is_set():
            try:
                sock, _ = lsock.accept()
            except socket.timeout:
                continue
            sock.settimeout(None)
            t = threading.Thread(target=self.serve, args=(sock,))
            t.start()
            self._threads.append(t)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--report", required=True)
    Generator(ap.parse_args()).run()


if __name__ == "__main__":
    main()
