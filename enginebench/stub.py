"""Loopback OpenAI-compatible chat stub for the LLM workloads.

One asyncio loop on one thread serves HTTP/1.1 keep-alive on 127.0.0.1.
Every request waits a fixed service latency, then answers
``<think>...</think>`` followed by a digest of the user prompt, so the
engine's think-strip and enrich steps have real work and the benchmark
can check every enrichment.

Failures follow a schedule keyed on the prompt and the seed
(:func:`fate`): a *transient* prompt answers 500 to the first request
that arrives for it and 200 afterwards; a *permanent* prompt always
answers 500. Requests beyond the admission cap are refused with 429 and
a ``Retry-After`` hint. Run with the cap at or above the engine's
in-flight maximum, so that no 429 fires and request counts repeat
exactly for a seed.
"""

from __future__ import annotations

import asyncio
import hashlib
import json
import threading
import time

RETRY_AFTER_S = "0.05"


def fate(seed: int, prompt: str, transient_share: float, permanent_share: float) -> str:
    """``ok``, ``transient`` or ``permanent`` for one prompt under one seed."""
    h = hashlib.sha256(f"{seed}\x00{prompt}".encode()).digest()
    u = int.from_bytes(h[:8], "big") / 2.0**64
    if u < permanent_share:
        return "permanent"
    if u < permanent_share + transient_share:
        return "transient"
    return "ok"


def digest(prompt: str) -> str:
    """The stub's answer once the think block is stripped."""
    return "DIGEST " + hashlib.sha1(prompt.encode()).hexdigest()[:16]


def reply(prompt: str) -> str:
    return f"<think>\nchecking {len(prompt)} chars\n</think>\n\n{digest(prompt)}"


def user_prompt(body: dict) -> str:
    for m in reversed(body.get("messages") or []):
        if m.get("role") == "user":
            c = m.get("content")
            if isinstance(c, list):
                return " ".join(p.get("text", "") for p in c if p.get("type") == "text")
            return c or ""
    return ""


class ChatStub:
    """Start with :meth:`start`, end with :meth:`stop`; counters are per
    epoch and :meth:`reset` begins a new epoch (one per engine job)."""

    def __init__(
        self,
        seed: int,
        latency_s: float,
        cap: int,
        transient_share: float,
        permanent_share: float,
    ):
        self.seed = seed
        self.latency_s = latency_s
        self.cap = cap
        self.transient_share = transient_share
        self.permanent_share = permanent_share
        self.port = 0
        self._lock = threading.Lock()
        self._loop: asyncio.AbstractEventLoop | None = None
        self._thread: threading.Thread | None = None
        self._server: asyncio.AbstractServer | None = None
        self._ready = threading.Event()
        self._fates: dict[str, str] = {}
        self._writers: set[asyncio.StreamWriter] = set()
        self._tasks: set[asyncio.Task] = set()
        self.reset()

    # -- counters (guarded by _lock; the loop thread writes, callers read)
    def reset(self) -> None:
        with self._lock:
            self.requests = 0
            self.failed_500 = 0
            self.rejected_429 = 0
            self.connections = 0
            self.inflight = 0
            self._failed_once: set[str] = set()
            self._t0 = self._last = time.perf_counter()
            self._inflight_area = 0.0
            self._idle = 0.0

    def _advance(self, now: float) -> None:
        dt = now - self._last
        self._inflight_area += self.inflight * dt
        if self.inflight == 0:
            self._idle += dt
        self._last = now

    def snapshot(self) -> dict:
        """Counters of the current epoch plus the loop thread's CPU time."""
        with self._lock:
            now = time.perf_counter()
            self._advance(now)
            span = max(now - self._t0, 1e-9)
            return {
                "requests": self.requests,
                "failed_500": self.failed_500,
                "rejected_429": self.rejected_429,
                "connections": self.connections,
                "inflight_mean": self._inflight_area / span,
                "idle_share": self._idle / span,
                "cpu_s": self.cpu_s(),
            }

    def cpu_s(self) -> float:
        if self._thread is None or self._thread.ident is None:
            return 0.0
        return time.clock_gettime(time.pthread_getcpuclockid(self._thread.ident))

    @property
    def endpoint(self) -> str:
        return f"http://127.0.0.1:{self.port}"

    # -- lifecycle
    def start(self) -> "ChatStub":
        self._thread = threading.Thread(target=self._run, name="chat-stub", daemon=True)
        self._thread.start()
        if not self._ready.wait(10):
            raise RuntimeError("chat stub did not start")
        return self

    def stop(self) -> None:
        if self._loop is None or self._thread is None:
            return
        asyncio.run_coroutine_threadsafe(self._close(), self._loop).result(10)
        self._loop.call_soon_threadsafe(self._loop.stop)
        self._thread.join(10)
        if self._thread.is_alive():
            raise RuntimeError("chat stub thread did not stop")
        self._loop = None

    def _run(self) -> None:
        loop = asyncio.new_event_loop()
        self._loop = loop
        asyncio.set_event_loop(loop)
        self._server = loop.run_until_complete(
            asyncio.start_server(self._serve, "127.0.0.1", 0, backlog=256)
        )
        self.port = self._server.sockets[0].getsockname()[1]
        self._ready.set()
        try:
            loop.run_forever()
        finally:
            loop.close()

    async def _close(self) -> None:
        """Stop accepting, close open connections, let handlers finish."""
        self._server.close()
        for w in list(self._writers):
            w.close()
        if self._tasks:
            await asyncio.wait(list(self._tasks), timeout=5)
        await self._server.wait_closed()

    # -- protocol
    def _fate(self, prompt: str) -> str:
        f = self._fates.get(prompt)
        if f is None:
            f = fate(self.seed, prompt, self.transient_share, self.permanent_share)
            self._fates[prompt] = f
        return f

    def _admit(self, prompt: str) -> int:
        """Decide the status at arrival: 200, 500 (scheduled failure) or 429."""
        with self._lock:
            self._advance(time.perf_counter())
            self.requests += 1
            if self.inflight >= self.cap:
                self.rejected_429 += 1
                return 429
            self.inflight += 1
            f = self._fate(prompt)
            if f == "permanent" or (f == "transient" and prompt not in self._failed_once):
                self._failed_once.add(prompt)
                self.failed_500 += 1
                return 500
            return 200

    def _leave(self) -> None:
        with self._lock:
            self._advance(time.perf_counter())
            self.inflight -= 1

    async def _serve(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter) -> None:
        with self._lock:
            self.connections += 1
        task = asyncio.current_task()
        self._tasks.add(task)
        self._writers.add(writer)
        try:
            while True:
                line = await reader.readline()
                if not line:
                    break
                headers: dict[str, str] = {}
                while True:
                    h = await reader.readline()
                    if h in (b"\r\n", b"\n", b""):
                        break
                    k, _, v = h.decode("latin-1").partition(":")
                    headers[k.strip().lower()] = v.strip()
                n = int(headers.get("content-length", "0"))
                body = await reader.readexactly(n) if n else b""
                status, payload, extra = await self._respond(body)
                head = [
                    f"HTTP/1.1 {status} {'OK' if status == 200 else 'Error'}",
                    "Content-Type: application/json",
                    f"Content-Length: {len(payload)}",
                    "Connection: keep-alive",
                    *extra,
                ]
                writer.write(("\r\n".join(head) + "\r\n\r\n").encode() + payload)
                await writer.drain()
                if headers.get("connection", "").lower() == "close":
                    break
        except (ConnectionError, asyncio.IncompleteReadError):
            pass
        finally:
            self._writers.discard(writer)
            self._tasks.discard(task)
            writer.close()

    async def _respond(self, body: bytes) -> tuple[int, bytes, list[str]]:
        try:
            prompt = user_prompt(json.loads(body or b"{}"))
        except ValueError:
            return 400, b'{"error": "bad json"}', []
        status = self._admit(prompt)
        if status == 429:
            return 429, b'{"error": "over capacity"}', [f"Retry-After: {RETRY_AFTER_S}"]
        try:
            await asyncio.sleep(self.latency_s)
        finally:
            self._leave()
        if status == 500:
            return 500, b'{"error": "scheduled failure"}', []
        out = {"choices": [{"message": {"role": "assistant", "content": reply(prompt)}}]}
        return 200, json.dumps(out).encode(), []
