"""Minimal TCP (+UDP-bind) server speaking the hlld wire protocol.

Line-oriented ASCII commands over TCP, one response per command, exactly
as the reference daemon serves them (/root/reference/src/networking.c —
there via libev + worker threads; here via a thread-per-connection
stdlib server, since the event-loop machinery is environment plumbing,
not semantics). An existing hlld client can point at this port and run
create/set/bulk/info/list/drop/close/clear/flush unchanged.

Parity extras (round 2):

* **UDP listener** — the reference binds a UDP socket on ``udp_port``
  (src/networking.c:228-266, default 4554 = tcp+1, src/config.c:19-21)
  but its datagram handler is a stub that logs "UDP clients not
  currently supported!" (src/networking.c:389-393). We mirror that
  exactly by default: bind, receive, warn, drop. ``udp_process=True``
  additionally executes set/bulk datagrams fire-and-forget (a documented
  extension beyond the reference).
* **Background flush thread** — flushes every set each
  ``flush_interval`` seconds (src/background.c:99-146).
* **Cold-unmap thread** — every ``cold_interval`` seconds, pages out
  sets untouched since the previous sweep (src/background.c:152-194).

This is a convenience/compatibility shim for interactive use — the
distributed hot path is the Spark pipeline (operators/sketch.py), with
``SketchRegistry.add_dataframe`` bridging Spark builds into named sets.
"""

from __future__ import annotations

import logging
import socket
import socketserver
import threading

from .protocol import CommandHandler
from .registry import SketchRegistry

log = logging.getLogger("hlld_spark.server")


class _Conn(socketserver.StreamRequestHandler):
    def handle(self):
        handler: CommandHandler = self.server.command_handler  # type: ignore[attr-defined]
        lock: threading.Lock = self.server.registry_lock  # type: ignore[attr-defined]
        while True:
            line = self.rfile.readline()
            if not line:
                return
            try:
                text = line.decode("utf-8", errors="replace")
            except Exception:
                return
            with lock:
                resp = handler.handle_command(text)
            self.wfile.write(resp.encode("utf-8"))
            self.wfile.flush()


class HlldServer(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True

    def __init__(
        self,
        data_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        udp_port: int | None = None,
        udp_process: bool = False,
        flush_interval: float | None = None,
        cold_interval: float | None = None,
    ):
        """``flush_interval`` / ``cold_interval`` in seconds (reference
        defaults 60 / 3600, src/config.c:28-29); None disables the
        thread. ``udp_port`` defaults to tcp_port+1 like the reference's
        4553/4554 pairing; pass -1 to skip binding UDP."""
        super().__init__((host, port), _Conn)
        self.registry = SketchRegistry(data_dir)
        self.command_handler = CommandHandler(self.registry)
        # one lock serializes registry mutation — the reference serializes
        # per-set updates with a spinlock (src/set.c:281-284); our bulk
        # path is vectorized so the critical section is the batch, not
        # the key
        self.registry_lock = threading.Lock()
        # set once by shutdown(); the background loops wait on it, so they
        # wake the moment it is set instead of at their next interval
        self._stop = threading.Event()
        self._bg_threads: list[threading.Thread] = []
        self.flush_count = 0
        self.cold_sweep_count = 0
        self.udp_datagrams = 0
        # UDP bind (reference: bound always; handler is a warn-stub)
        self._udp_sock = None
        if udp_port != -1:
            self._udp_sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
            self._udp_sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
            self._udp_sock.bind((host, udp_port if udp_port is not None else self.port + 1))
            self._udp_sock.settimeout(0.2)
            t = threading.Thread(target=self._udp_loop, args=(udp_process,), daemon=True)
            t.start()
            self._bg_threads.append(t)
        if flush_interval is not None:
            t = threading.Thread(target=self._flush_loop, args=(flush_interval,), daemon=True)
            t.start()
            self._bg_threads.append(t)
        if cold_interval is not None:
            t = threading.Thread(target=self._cold_loop, args=(cold_interval,), daemon=True)
            t.start()
            self._bg_threads.append(t)

    # -- background threads (src/background.c) ---------------------------------

    def _flush_loop(self, interval: float) -> None:
        while not self._stop.wait(interval):
            with self.registry_lock:
                self.registry.flush()
                self.flush_count += 1

    def _cold_loop(self, interval: float) -> None:
        while not self._stop.wait(interval):
            with self.registry_lock:
                swept = self.registry.cold_sweep()
                self.cold_sweep_count += 1
            if swept:
                log.info("cold-unmapped %d sets: %s", len(swept), swept)

    def _udp_loop(self, process: bool) -> None:
        while not self._stop.is_set():
            try:
                data, _addr = self._udp_sock.recvfrom(65536)
            except socket.timeout:
                continue
            except OSError:
                return
            self.udp_datagrams += 1
            if not process:
                # reference parity: networking.c:391-393 logs and drops
                log.warning("UDP clients not currently supported!")
                continue
            for line in data.decode("utf-8", errors="replace").splitlines():
                if line.strip():
                    with self.registry_lock:
                        self.command_handler.handle_command(line + "\n")

    @property
    def port(self) -> int:
        return self.server_address[1]

    @property
    def udp_port(self) -> int | None:
        return self._udp_sock.getsockname()[1] if self._udp_sock else None

    def start_background(self) -> threading.Thread:
        t = threading.Thread(target=self.serve_forever, daemon=True)
        t.start()
        return t

    def shutdown(self) -> None:
        self._stop.set()
        if self._udp_sock is not None:
            try:
                self._udp_sock.close()
            except OSError:
                pass
        super().shutdown()
        for t in self._bg_threads:
            t.join(timeout=2)


def serve(data_dir: str, host: str = "127.0.0.1", port: int = 4553) -> None:
    """Blocking entrypoint: python -m hlld_spark.server /path/to/data
    (4553/4554 are the reference's default tcp/udp ports,
    src/config.c:19-21; flush every 60 s, cold sweep hourly,
    src/config.c:28-29)."""
    srv = HlldServer(data_dir, host, port, flush_interval=60.0, cold_interval=3600.0)
    print(f"hlld-spark serving on {host}:{srv.port} (udp {srv.udp_port}), data_dir={data_dir}")
    srv.serve_forever()


if __name__ == "__main__":
    import sys

    serve(sys.argv[1] if len(sys.argv) > 1 else "./hlld_data")
