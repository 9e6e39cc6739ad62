"""Pure-Python reference-semantics oracle (SURVEY §7 M0).

A ~150-line sequential implementation of the pinned crawl contract
(crawl/semantics.py) over the synthetic web.  It produces the golden
outputs the Spark engine must reproduce exactly:

- ``crawl_order``: fingerprints in lease order (priority ASC, fingerprint
  ASC, batch-at-a-time — the zset contract, redisdb.py:308-361)
- final ``seen`` fingerprint set (claim-on-enqueue, request_buffer.py:42-50)
- ``docs``: per-document span sequences (kind, text, media_ref, offset)
- ``failed`` fingerprints (retry>max routing, parser_control.py:298-301)
- ``items`` with item fingerprints (item.py:141-153)
- per-iteration metrics

No Spark, no threads — the whole point is an independent, obviously-correct
serial reading of the reference semantics to diff the distributed engine
against (SURVEY §5 test plan).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from feapder_spark.crawl import html as H
from feapder_spark.crawl import semantics as S
from feapder_spark.crawl.synthweb import SyntheticWeb
from feapder_spark.urlnorm import canonicalize_url, get_md5, host_of, request_fingerprint


@dataclass
class OracleResult:
    crawl_order: list[str] = field(default_factory=list)  # fingerprints in lease order
    seen: set = field(default_factory=set)
    docs: dict = field(default_factory=dict)  # doc_id -> list[span dict]
    failed: set = field(default_factory=set)
    items: dict = field(default_factory=dict)  # item fingerprint -> item dict
    metrics: list = field(default_factory=list)
    iterations: int = 0


def run_oracle(
    web: SyntheticWeb,
    seeds: list[dict],
    batch_size: int = S.DEFAULT_BATCH_SIZE,
    max_retries: int = S.MAX_RETRIES,
    max_iterations: int | None = None,
    politeness: dict[str, int] | None = None,
    token_bucket: dict | None = None,
    parsers: dict | None = None,
    callbacks: dict | None = None,
    default_parser: str = "TestParser",
    seen_ttl_iterations: int | None = None,
) -> OracleResult:
    """``parsers``: multi-parser dispatch mirror (parser_control.py:85-86) —
    {parser_name: parse_fn} or {parser_name: {"parse": fn, "callbacks":
    {name: fn}}}; rows route by their parser_name, links emitted as
    (url, parser_name) pairs route explicitly, bare links inherit the
    emitting row's parser, (url, parser_or_None, callback) triples carry a
    per-request callback name (request.py:248-252) dispatched at parse time
    (parser_control.py:562-570; an unresolvable name follows the dispatch-
    exception retry path).  ``callbacks`` is the default parser's callback
    table.  Seeds may carry method/data (TaskSpider params) and callback;
    body args fold into the fingerprint (request.py:465-480)."""
    res = OracleResult()
    # frontier: fingerprint -> row dict
    frontier: dict[str, dict] = {}
    # claim log for ExpireFilter semantics: fp -> latest claim iteration
    seen_at: dict[str, int] = {}
    # token-bucket state mirroring crawl/politeness.py + engine exactly:
    # hosts accrue (tokens, updated_iteration) on the iterations they have
    # due rows; rows for other hosts PERSIST untouched and catch up via
    # elapsed-iterations accrual when next due — min(burst, t + m·rate)
    # composes, so lazy catch-up equals per-iteration accrual.  This
    # persist-state contract is what lets the engine accrue over only the
    # opened frontier bands (engine._lease_inputs) and stay exact.
    bucket_state: dict[str, tuple[float, int]] = {}

    def enqueue(
        url: str,
        priority: int,
        *,
        claim: bool = True,
        retry_times: int = 0,
        parser_name: str | None = None,
        method: str | None = None,
        data: dict | None = None,
        callback: str | None = None,
        auto_request: bool = True,
    ) -> bool:
        """Returns True when the request was (re)claimed as new."""
        canon = canonicalize_url(url)
        fp = request_fingerprint(url, data=data) if data else get_md5(canon)
        claimed = False
        if claim:
            prev = seen_at.get(fp)
            alive = prev is not None and (
                seen_ttl_iterations is None or prev > res.iterations - seen_ttl_iterations
            )
            if alive:
                return False  # claim-on-enqueue dedup (request_buffer.py:42-50)
            seen_at[fp] = res.iterations  # (re)claim; expired claims renew
            res.seen.add(fp)
            claimed = True
        frontier[fp] = {
            "fingerprint": fp,
            "url": url,
            "url_canon": canon,
            "host": host_of(url),
            "priority": priority,
            "retry_times": retry_times,
            "status": S.STATUS_TODO,
            "parser_name": parser_name or default_parser,
            "method": method,
            "data": data,
            "callback": callback,
            "auto_request": auto_request,
        }
        return claimed

    def resolve_parse(url, retry_times, parser_name, callback, method, data, auto_request):
        """(status, parse_fn, raw) — mirrors fetcher.handle's dispatch order:
        auto_request=False skips the download (response=None,
        parser_control.py:96,162-163); an unresolvable callback name is a
        dispatch exception → retry path (parser_control.py:555-570)."""
        if not auto_request:
            status, raw = 200, None
        elif method is not None or data is not None:
            status, raw = web.resolve(url, attempt=retry_times, method=method or "GET", data=data)
        else:
            status, raw = web.resolve(url, attempt=retry_times)
        spec = (parsers or {}).get(parser_name)
        if isinstance(spec, dict):
            base_fn, cb_fns = spec.get("parse"), spec.get("callbacks") or {}
        else:
            base_fn, cb_fns = spec, {}
        fn = base_fn or H.parse_document
        if status == 200 and callback:
            fn = cb_fns.get(callback) or (callbacks or {}).get(callback)
            if fn is None:
                status = S.CODE_VALIDATE_RETRY
        return status, fn, raw

    def emit_success(fp, url_canon, fn, raw, parser_name, priority, m):
        m["fetched_ok"] += 1
        spans, links, title = fn(url_canon, raw)
        res.docs[fp] = spans
        item = {"doc_id": fp, "url": url_canon, "title": title, "n_spans": len(spans)}
        ifp = S.item_fingerprint(item)
        if ifp not in res.items:  # item dedup (item_buffer.py:180-217)
            res.items[ifp] = item
        process_links(links, parser_name, priority, m)

    def process_links(links, parent_parser, parent_priority, m):
        for link in links:
            lp, lcb, lar, lsync = parent_parser, None, True, False
            if isinstance(link, dict):
                lp = link.get("parser_name") or parent_parser
                lcb = link.get("callback")
                lar = bool(link.get("auto_request", True))
                lsync = bool(link.get("request_sync"))
                link = link["url"]
            elif isinstance(link, (tuple, list)):
                if len(link) >= 3:
                    link, lp, lcb = link[0], link[1], link[2]
                else:
                    link, lp = link[0], link[1]
                if lp is None:
                    lp = parent_parser
            if lsync:
                run_inline(link, lp, lcb, lar, parent_priority, m)
            elif enqueue(
                link, S.DEFAULT_PRIORITY, parser_name=lp, callback=lcb, auto_request=lar
            ):
                m["links_new"] += 1
            else:
                m["links_dup"] += 1

    def run_inline(url, parser_name, callback, auto_request, parent_priority, m):
        """request_sync mirror (parser_control.py:190-195): executed NOW,
        depth-first, never queued and never claimed in the seen set; its
        links process recursively; a failure re-enqueues through the normal
        retry route with the parent's priority (engine parity)."""
        canon = canonicalize_url(url)
        fp = get_md5(canon)
        status, fn, raw = resolve_parse(url, 0, parser_name, callback, None, None, auto_request)
        if status == 200:
            emit_success(fp, canon, fn, raw, parser_name, parent_priority, m)
            return
        route = S.failure_route(0, max_retries)
        if route == S.STATUS_FAILED:
            m["failed"] += 1
            res.failed.add(fp)
        else:
            m["retried"] += 1
            frontier[fp] = {
                "fingerprint": fp, "url": url, "url_canon": canon,
                "host": host_of(url), "priority": parent_priority,
                "retry_times": 1, "status": S.STATUS_TODO,
                "parser_name": parser_name, "method": None, "data": None,
                "callback": callback, "auto_request": auto_request,
            }

    for seed in seeds:
        enqueue(
            seed["url"],
            seed.get("priority", S.DEFAULT_PRIORITY),
            parser_name=seed.get("parser_name"),
            method=seed.get("method"),
            data=seed.get("data"),
            callback=seed.get("callback"),
            auto_request=bool(seed.get("auto_request", True)),
        )

    while True:
        if max_iterations is not None and res.iterations >= max_iterations:
            break
        due = [r for r in frontier.values() if r["status"] == S.STATUS_TODO]
        # per-host budgets: static politeness and/or token-bucket accrual
        budgets: dict[str, int] | None = None
        default_budget = 10**9
        if politeness:
            default_budget = politeness.get("__default__", 10**9)
            budgets = {h: b for h, b in politeness.items() if h != "__default__"}
        if token_bucket:
            rate, burst = token_bucket["rate"], token_bucket["burst"]
            due_hosts = {r["host"] for r in due}
            accrued: dict[str, tuple[float, int]] = {}
            for h in due_hosts:
                if h in bucket_state:
                    tokens, upd = bucket_state[h]
                    tokens = min(burst, tokens + (res.iterations - upd) * rate)
                else:
                    tokens = burst
                accrued[h] = (tokens, res.iterations)
            tb_budgets = {h: int(t) for h, (t, _) in accrued.items()}
            if budgets is None:
                budgets = tb_budgets
            else:
                budgets = {
                    h: min(budgets.get(h, default_budget), tb_budgets.get(h, 10**9))
                    for h in set(budgets) | set(tb_budgets)
                }
        if budgets is not None:
            per_host_count: dict[str, int] = {}
            eligible = []
            for r in sorted(due, key=lambda r: (r["priority"], r["fingerprint"])):
                budget = budgets.get(r["host"], default_budget)
                c = per_host_count.get(r["host"], 0)
                if c < budget:
                    per_host_count[r["host"]] = c + 1
                    eligible.append(r)
        else:
            eligible = due
        batch = sorted(eligible, key=lambda r: (r["priority"], r["fingerprint"]))[:batch_size]
        if not batch:
            if token_bucket and due and token_bucket["rate"] > 0:
                # idle-accrual tick (engine mirror: state not updated, so
                # elapsed-iterations accrual covers the idle gap)
                res.metrics.append(
                    {"iteration": res.iterations, "leased": 0, "fetched_ok": 0,
                     "links_new": 0, "links_dup": 0, "retried": 0, "failed": 0}
                )
                res.iterations += 1
                continue
            break
        if token_bucket:
            # spend one token per leased fetch; accrued hosts update in
            # place, every other host's row persists (lazy accrual)
            spent: dict[str, int] = {}
            for r in batch:
                spent[r["host"]] = spent.get(r["host"], 0) + 1
            for h, (t, upd) in accrued.items():
                bucket_state[h] = (max(0.0, t - spent.get(h, 0)), upd)
        m = {"iteration": res.iterations, "leased": len(batch), "fetched_ok": 0,
             "links_new": 0, "links_dup": 0, "retried": 0, "failed": 0}
        for r in batch:
            res.crawl_order.append(r["fingerprint"])
            status, fn, raw = resolve_parse(
                r["url"], r["retry_times"], r["parser_name"], r["callback"],
                r["method"], r["data"], r.get("auto_request", True),
            )
            if status == 200:
                emit_success(
                    r["fingerprint"], r["url_canon"], fn, raw,
                    r["parser_name"], r["priority"], m,
                )
                del frontier[r["fingerprint"]]  # ack (zrem)
            else:
                route = S.failure_route(r["retry_times"], max_retries)
                if route == S.STATUS_FAILED:
                    m["failed"] += 1
                    res.failed.add(r["fingerprint"])
                    del frontier[r["fingerprint"]]
                else:
                    m["retried"] += 1
                    # retry re-enqueue, no dedup (parser_control.py:344-377)
                    r["retry_times"] += 1
        res.metrics.append(m)
        res.iterations += 1
    return res
