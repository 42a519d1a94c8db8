"""Stub AI server: an OpenAI-shaped chat-completions endpoint on localhost.

Every answer is a pure function of the received messages (`answer`), so
the checker can verify both the content and the threading of
conversation history. Each response waits `latency_ms` on an asyncio
timer: the server runs on one thread and never holds a thread per
request, so it models call latency, not capacity.

A row whose id is in `fail_ids` gets HTTP 503 on its first attempt in a
pass; the retry succeeds. Rows are identified by the `item <id>:` prefix
the benchmark's prompt template puts in every prompt.

Every request is recorded: arrival and completion (epoch microseconds),
request bytes, status, row id and the span it is parented to.

Control endpoints: `POST /ctl/reset` starts a new pass (first attempts
fail again), `POST /ctl/parent` with a span id as body sets the parent
of the following request spans.
"""
import asyncio
import json
import re
import threading
import time
import zlib

ROW = re.compile(r"^item (\d+):")


def answer(model, messages):
    """`[model] ` + upper(last user content)[:64] + message count + a
    CRC-32 of the whole history."""
    last = next(m["content"] for m in reversed(messages) if m["role"] == "user")
    history = "\n".join(f'{m["role"]}:{m["content"]}' for m in messages)
    return f"[{model}] {last.upper()[:64]} n={len(messages)} h={zlib.crc32(history.encode()):08x}"


def now_us():
    return time.time_ns() // 1000


class StubServer:
    def __init__(self, latency_ms, fail_ids=()):
        self.latency = latency_ms / 1000.0
        self.fail_ids = set(fail_ids)
        self.failed = set()
        self.parent = 0
        self.records = []
        self.port = None
        self._loop = None
        self._thread = None
        self._server = None

    # -- lifecycle -----------------------------------------------------
    def start(self):
        ready = threading.Event()

        def serve():
            self._loop = asyncio.new_event_loop()
            self._server = self._loop.run_until_complete(
                asyncio.start_server(self._connection, "127.0.0.1", 0))
            self.port = self._server.sockets[0].getsockname()[1]
            ready.set()
            self._loop.run_forever()
            self._server.close()
            self._loop.run_until_complete(self._server.wait_closed())
            self._loop.close()

        self._thread = threading.Thread(target=serve, name="stub-ai", daemon=True)
        self._thread.start()
        if not ready.wait(10):
            raise RuntimeError("stub server did not start")
        return self

    def stop(self):
        if self._loop is not None:
            self._loop.call_soon_threadsafe(self._loop.stop)
            self._thread.join(10)
            self._loop = None

    @property
    def base(self):
        return f"http://127.0.0.1:{self.port}"

    # -- HTTP ----------------------------------------------------------
    async def _connection(self, reader, writer):
        try:
            while True:
                line = await reader.readline()
                if not line:
                    break
                method, path, _ = line.decode("latin-1").split(" ", 2)
                headers = {}
                while True:
                    h = await reader.readline()
                    if h in (b"\r\n", b"\n", b""):
                        break
                    k, v = h.decode("latin-1").split(":", 1)
                    headers[k.strip().lower()] = v.strip()
                n = int(headers.get("content-length", "0"))
                body = await reader.readexactly(n) if n else b""
                if path.startswith("/ctl/"):
                    status, out = self._control(path, body), b"{}"
                    self._send(writer, status, out)
                    await writer.drain()
                else:
                    await self._chat(writer, body)
                if headers.get("connection", "").lower() == "close":
                    break
        except (ConnectionError, asyncio.IncompleteReadError):
            pass
        finally:
            writer.close()

    @staticmethod
    def _send(writer, status, out):
        reason = {200: "OK", 404: "Not Found", 503: "Service Unavailable"}.get(status, "")
        writer.write(f"HTTP/1.1 {status} {reason}\r\nContent-Type: application/json\r\n"
                     f"Content-Length: {len(out)}\r\n\r\n".encode() + out)

    def _control(self, path, body):
        if path == "/ctl/reset":
            self.failed.clear()
        elif path == "/ctl/parent":
            self.parent = int(body or b"0")
        else:
            return 404
        return 200

    async def _chat(self, writer, body):
        arrival = now_us()
        parent = self.parent
        req = json.loads(body)
        messages = req["messages"]
        m = ROW.match(messages[-1]["content"])
        row = int(m.group(1)) if m else -1
        if row in self.fail_ids and row not in self.failed:
            self.failed.add(row)
            status = 503
            out = json.dumps({"error": {"message": "service unavailable, retry"}})
        else:
            status = 200
            out = json.dumps({"choices": [{"index": 0, "message": {
                "role": "assistant", "content": answer(req["model"], messages)}}]})
        await asyncio.sleep(self.latency)
        self._send(writer, status, out.encode())
        await writer.drain()
        self.records.append((arrival, now_us(), len(body), status, row, parent))

    def log(self):
        """The request log as dicts, in completion order."""
        keys = ("arrival_us", "done_us", "bytes", "status", "row", "parent")
        return [dict(zip(keys, r)) for r in self.records]
