"""Open-loop load generator for the workflow service (a separate process).

Reads a plan from stdin: {"url", "connections", "drain_timeout_s",
"arrivals": [{"name", "due", "body"}]} where `due` is seconds after the
start. It serves a callback endpoint, POSTs each workflow at its due time
over at most `connections` concurrent connections, and waits for every
accepted workflow's completion callback. It prints one JSON object with,
per workflow, the due, send, acknowledgement and callback times
(time.monotonic(), which every process on the host shares) plus the HTTP
status and the callback payload.
"""

from __future__ import annotations

import json
import sys
import threading
import time
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def main() -> int:
    plan = json.load(sys.stdin)
    recs: dict[str, dict] = {}
    lock = threading.Lock()
    done = threading.Condition(lock)

    class Callback(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_POST(self):
            at = time.monotonic()
            body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()
            with done:
                rec = recs.get(body.get("name"))
                if rec is not None and "callback_at" not in rec:
                    rec["callback_at"] = at
                    rec["payload"] = body
                    done.notify_all()

    cb = ThreadingHTTPServer(("127.0.0.1", 0), Callback)
    cb_thread = threading.Thread(target=cb.serve_forever, daemon=True)
    cb_thread.start()
    callback_url = f"http://127.0.0.1:{cb.server_address[1]}/done"

    def send(rec: dict, body: dict) -> None:
        data = json.dumps({**body, "exec_mode": "async", "callback": callback_url}).encode()
        req = urllib.request.Request(plan["url"], data=data, method="POST",
                                     headers={"Content-Type": "application/json"})
        rec["sent"] = time.monotonic()
        try:
            with urllib.request.urlopen(req, timeout=30) as r:
                rec["http"] = r.status
                r.read()
        except urllib.error.HTTPError as exc:
            rec["http"] = exc.code
        except OSError as exc:
            rec["http"] = 0
            rec["error"] = str(exc)
        rec["acked"] = time.monotonic()

    start = time.monotonic() + 0.2
    with ThreadPoolExecutor(max_workers=plan["connections"]) as pool:
        futures = []
        for a in plan["arrivals"]:
            due = start + a["due"]
            with lock:
                recs[a["name"]] = rec = {"name": a["name"], "due": due}
            delay = due - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            futures.append(pool.submit(send, rec, a["body"]))
        for f in futures:
            f.result()
    deadline = time.monotonic() + plan["drain_timeout_s"]
    with done:
        while any(r.get("http") == 202 and "callback_at" not in r for r in recs.values()):
            left = deadline - time.monotonic()
            if left <= 0:
                break
            done.wait(left)
    cb.shutdown()
    cb.server_close()
    cb_thread.join(timeout=10)
    json.dump({"start": start, "records": list(recs.values())}, sys.stdout)
    sys.stdout.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
