"""The benchmark's own NSQ broker and Kinesis endpoint, on one asyncio loop.

`NsqBroker` speaks NSQ protocol v2 for one topic and one channel: IDENTIFY,
SUB, RDY (a standing in-flight cap), FIN, REQ (with its delay), NOP, CLS,
epoch-ns message timestamps, nsqd's msg_timeout redelivery, and a `/stats`
JSON document in nsqd's shape. A dropped connection requeues its in-flight
messages, as nsqd does.

`HttpFront` serves nsqd's `/stats` and the Kinesis JSON API (`CreateStream`,
`PutRecords`) on one port. PutRecords bodies are stored with their receipt
time and decoded after the run, so checking never slows the endpoint.

Nothing here waits on the system under test: publishing appends to a queue
and writes frames into socket buffers without awaiting a drain.
"""

import asyncio
import collections
import json
import struct
import time

FRAME_RESPONSE, FRAME_ERROR, FRAME_MESSAGE = 0, 1, 2


def frame(frame_type, data):
    return struct.pack(">ii", len(data) + 4, frame_type) + data


class Message:
    __slots__ = ("mid", "rid", "body", "ts_ns", "attempts", "published", "admitted",
                 "finned", "deadline")

    def __init__(self, mid, rid, body, now):
        self.mid = mid
        self.rid = rid
        self.body = body
        self.ts_ns = time.time_ns()
        self.attempts = 0
        self.published = now
        self.admitted = None
        self.finned = None
        self.deadline = 0.0


class Conn:
    def __init__(self, writer):
        self.writer = writer
        self.ready = 0
        self.in_flight = {}
        self.msg_timeout = 60.0


class NsqBroker:
    def __init__(self, topic, channel):
        self.topic = topic
        self.channel = channel
        self.queue = collections.deque()
        self.conns = []
        self.rr = 0
        self.messages = {}
        self.next_id = 0
        self.subscribed = False
        self.counters = collections.Counter()
        self.in_flight_peak = 0
        self.depth_peak = 0
        self.server = None
        self.port = None

    async def start(self):
        self.server = await asyncio.start_server(self._handle, "127.0.0.1", 0)
        self.port = self.server.sockets[0].getsockname()[1]
        self._reaper = asyncio.get_running_loop().create_task(self._timeouts())

    async def stop(self):
        self._reaper.cancel()
        self.server.close()
        for c in list(self.conns):
            c.writer.close()
        await self.server.wait_closed()

    # -- publishing and delivery ------------------------------------------

    def publish(self, rid, body):
        """Enqueue one message carrying record `rid`; returns the Message."""
        mid = b"%016x" % self.next_id
        self.next_id += 1
        m = Message(mid, rid, body, time.monotonic())
        self.messages[mid] = m
        self.queue.append(m)
        self.counters["published"] += 1
        self._pump()
        self.depth_peak = max(self.depth_peak, len(self.queue))
        return m

    def depth(self):
        return len(self.queue)

    def in_flight(self):
        return sum(len(c.in_flight) for c in self.conns)

    def outstanding(self):
        return len(self.queue) + self.in_flight()

    def _pump(self):
        while self.queue:
            n = len(self.conns)
            for _ in range(n):
                c = self.conns[self.rr % n]
                self.rr += 1
                if len(c.in_flight) < c.ready and not c.writer.is_closing():
                    break
            else:
                return
            m = self.queue.popleft()
            now = time.monotonic()
            m.attempts += 1
            m.deadline = now + c.msg_timeout
            c.in_flight[m.mid] = m
            if m.admitted is None:
                m.admitted = now
            else:
                self.counters["redelivered"] += 1
            self.counters["delivered"] += 1
            payload = struct.pack(">qH", m.ts_ns, m.attempts) + m.mid + m.body
            c.writer.write(frame(FRAME_MESSAGE, payload))
            self.in_flight_peak = max(self.in_flight_peak, self.in_flight())

    def _requeue(self, m):
        self.queue.append(m)

    def _drop(self, c):
        if c in self.conns:
            self.conns.remove(c)
        for m in c.in_flight.values():
            self.counters["conn_requeued"] += 1
            self._requeue(m)
        c.in_flight.clear()
        self._pump()

    async def _timeouts(self):
        while True:
            await asyncio.sleep(0.1)
            now = time.monotonic()
            for c in self.conns:
                late = [m for m in c.in_flight.values() if m.deadline < now]
                for m in late:
                    del c.in_flight[m.mid]
                    self.counters["timed_out"] += 1
                    self._requeue(m)
            if self.queue:
                self._pump()

    # -- protocol -----------------------------------------------------------

    async def _handle(self, reader, writer):
        c = Conn(writer)
        try:
            if await reader.readexactly(4) != b"  V2":
                return
            while True:
                line = await reader.readline()
                if not line:
                    return
                parts = line.rstrip(b"\n").split(b" ")
                cmd = parts[0]
                if cmd == b"IDENTIFY":
                    size = struct.unpack(">i", await reader.readexactly(4))[0]
                    ident = json.loads(await reader.readexactly(size))
                    c.msg_timeout = ident.get("msg_timeout", 60000) / 1000.0
                    writer.write(frame(FRAME_RESPONSE, b"OK"))
                elif cmd == b"SUB":
                    self.conns.append(c)
                    self.subscribed = True
                    self.counters["connections"] += 1
                    writer.write(frame(FRAME_RESPONSE, b"OK"))
                elif cmd == b"RDY":
                    c.ready = int(parts[1])
                    self._pump()
                elif cmd == b"FIN":
                    m = c.in_flight.pop(parts[1], None)
                    if m is None:
                        self.counters["fin_failed"] += 1
                        writer.write(frame(FRAME_ERROR, b"E_FIN_FAILED FIN " + parts[1]))
                    else:
                        m.finned = time.monotonic()
                        self.counters["fin"] += 1
                        self._pump()
                elif cmd == b"REQ":
                    m = c.in_flight.pop(parts[1], None)
                    if m is None:
                        writer.write(frame(FRAME_ERROR, b"E_REQ_FAILED REQ " + parts[1]))
                        continue
                    self.counters["req"] += 1
                    delay = int(parts[2]) / 1000.0 if len(parts) > 2 else 0.0
                    if delay > 0:
                        asyncio.get_running_loop().call_later(delay, self._requeue_later, m)
                    else:
                        self._requeue(m)
                        self._pump()
                elif cmd == b"NOP":
                    pass
                elif cmd == b"CLS":
                    writer.write(frame(FRAME_RESPONSE, b"CLOSE_WAIT"))
                else:
                    writer.write(frame(FRAME_ERROR, b"E_INVALID"))
        except (asyncio.IncompleteReadError, ConnectionError):
            pass
        finally:
            self._drop(c)
            writer.close()

    def _requeue_later(self, m):
        self._requeue(m)
        self._pump()

    def stats_json(self):
        ch = {"channel_name": self.channel, "depth": len(self.queue),
              "in_flight_count": self.in_flight()}
        topic = {"topic_name": self.topic, "depth": 0 if self.subscribed else len(self.queue),
                 "channels": [ch] if self.subscribed else []}
        return json.dumps({"version": "perfbench", "topics": [topic]}).encode()


class HttpFront:
    """nsqd `/stats` plus the Kinesis JSON API on one HTTP/1.1 port."""

    def __init__(self, broker):
        self.broker = broker
        self.puts = []  # (monotonic receipt time, body bytes)
        self.put_spans = []  # (connection accepted, request head read, response written)
        self.failed_requests = 0
        self.server = None
        self.port = None

    async def start(self):
        self.server = await asyncio.start_server(self._handle, "127.0.0.1", 0)
        self.port = self.server.sockets[0].getsockname()[1]

    async def stop(self):
        self.server.close()
        await self.server.wait_closed()

    async def _handle(self, reader, writer):
        accepted = time.monotonic()
        try:
            while True:
                head = await reader.readuntil(b"\r\n\r\n")
                t_head = time.monotonic()
                lines = head.decode("latin-1").split("\r\n")
                method, path = lines[0].split(" ")[:2]
                headers = {}
                for h in lines[1:]:
                    if ":" in h:
                        k, v = h.split(":", 1)
                        headers[k.strip().lower()] = v.strip()
                body = await reader.readexactly(int(headers.get("content-length", "0")))
                status, out = self._route(method, path, headers, body)
                writer.write(b"HTTP/1.1 %d OK\r\nContent-Type: application/x-amz-json-1.1\r\n"
                             b"Content-Length: %d\r\n\r\n" % (status, len(out)) + out)
                if status == 200 and headers.get("x-amz-target", "").endswith(".PutRecords"):
                    self.put_spans.append((accepted, t_head, time.monotonic()))
                elif status != 200:
                    self.failed_requests += 1
        except (asyncio.IncompleteReadError, ConnectionError, asyncio.LimitOverrunError):
            pass
        finally:
            writer.close()

    def _route(self, method, path, headers, body):
        if method == "GET" and path.startswith("/stats"):
            return 200, self.broker.stats_json()
        target = headers.get("x-amz-target", "")
        if target.endswith(".CreateStream"):
            return 200, b"{}"
        if target.endswith(".PutRecords"):
            self.puts.append((time.monotonic(), body))
            n = body.count(b'"PartitionKey"')
            rec = b'{"SequenceNumber":"1","ShardId":"shardId-000000000000"}'
            return 200, b'{"FailedRecordCount":0,"Records":[' + b",".join([rec] * n) + b"]}"
        return 400, b'{"__type":"UnknownOperationException"}'
