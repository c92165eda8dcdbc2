"""Open-loop NGSI notification generator, run as its own process.

Usage: python3 loadgen.py SPEC_JSON OUT_JSON

SPEC holds the receiver URL, the start time (epoch seconds), the rate
(notifications/s), the notification count, the entities per
notification, the key order and the number of sending threads.
Notification ``i`` is due at ``start + i / rate`` whether or not earlier
ones have been answered (open loop).  Each carries entities whose
``temperature`` is ``TEMP_BASE - (i * entities + j)``, so a smaller
temperature always means a newer event.  Per notification the output
records the due time, the send time, the answer time and the status.
"""

from __future__ import annotations

import http.client
import json
import os
import sys
import threading
import time
from urllib.parse import urlsplit

TEMP_BASE = 1_000_000.0
HEADERS = {
    "Content-Type": "application/json",
    "Fiware-Service": "demo",
    "Fiware-ServicePath": "/test",
}


def notification(seq: int, keys: list[str], entities: int) -> str:
    """The reference's flat notification (curl_Notification.sh): six
    Float attributes per entity, ``entities`` entities per POST."""
    data = []
    for j in range(entities):
        event = seq * entities + j
        ent = {"id": keys[event % len(keys)], "type": "Node"}
        for name, value in (
            ("co", 0.0),
            ("co2", 0.0),
            ("humidity", 40.0),
            ("pressure", 1234.0),
            ("temperature", TEMP_BASE - event),
            ("wind_speed", 1.06),
        ):
            ent[name] = {"type": "Float", "value": value, "metadata": {}}
        data.append(ent)
    return json.dumps({"data": data, "subscriptionId": "57458eb60962ef754e7c0998"})


def run(spec: dict) -> list[list]:
    url = urlsplit(spec["url"])
    start, rate, count = spec["start"], spec["rate"], spec["count"]
    keys, entities = spec["keys"], spec["entities"]
    records: list[list] = [None] * count
    lock = threading.Lock()
    next_seq = [0]

    def worker() -> None:
        while True:
            with lock:
                seq = next_seq[0]
                next_seq[0] += 1
            if seq >= count:
                return
            body = notification(seq, keys, entities).encode()
            due = start + seq / rate
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            sent = time.time()
            status = 0
            conn = http.client.HTTPConnection(url.hostname, url.port, timeout=10)
            try:
                conn.request("POST", url.path or "/", body=body, headers=HEADERS)
                resp = conn.getresponse()
                resp.read()
                status = resp.status
            except OSError:
                status = -1
            finally:
                conn.close()
            records[seq] = [seq, due, sent, time.time(), status]

    threads = [threading.Thread(target=worker) for _ in range(spec["threads"])]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records


def main() -> None:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    records = run(spec)
    with open(sys.argv[2] + ".tmp", "w") as f:
        json.dump(records, f)
    os.replace(sys.argv[2] + ".tmp", sys.argv[2])


if __name__ == "__main__":
    main()
