"""Plain-Python reference evaluation of the generated pipelines.

It covers exactly the filter forms and processor settings that
``gen.py`` emits, and is evaluated over a fixed sample of event ids;
the benchmark compares the program's output rows for those ids with
these dicts, and the rest of the output by row count.
"""

from __future__ import annotations

import hashlib
import ipaddress
import json
import re

SAMPLE_MOD = 50  # event ids with event_id % SAMPLE_MOD == 0 are checked row by row

_TERM = re.compile(r"^([\w.@]+):(.*)$")


def _term(event: dict, term: str) -> bool:
    m = _TERM.match(term.strip())
    if not m:
        raise ValueError(f"filter term outside the generated grammar: {term!r}")
    field, rhs = m.groups()
    value = event.get(field)
    if value is None:
        return False
    if rhs.startswith("[") and " TO " in rhs:
        lo, hi = rhs[1:-1].split(" TO ")
        return float(lo) <= float(value) <= float(hi)
    if rhs.startswith("/") and rhs.endswith("/"):
        return re.fullmatch(rhs[1:-1], str(value)) is not None
    if "*" in rhs:
        pattern = ".*".join(re.escape(p) for p in rhs.split("*"))
        return re.fullmatch(pattern, str(value)) is not None
    return str(value) == rhs


def matches(event: dict, filt: str) -> bool:
    """``a AND b AND ...`` of the generated term forms; ``*`` = all;
    a bare field name = the field exists."""
    if filt.strip() == "*":
        return True
    out = True
    for term in filt.split(" AND "):
        term = term.strip()
        out &= _term(event, term) if ":" in term else event.get(term) is not None
    return out


def _labels(event: dict, rules: list[dict]) -> dict | None:
    label: dict[str, set] = {}
    for r in rules:
        if matches(event, r["filter"]):
            for cat, vals in r["labeler"]["label"].items():
                label.setdefault(cat, set()).update(vals)
    return {k: sorted(v) for k, v in sorted(label.items())} or None


def _domain(domain: str) -> dict:
    parts = domain.split(".")
    n_suffix = 2 if domain.endswith(".co.uk") else 1
    return {
        "registered_domain": ".".join(parts[-n_suffix - 1:]),
        "top_level_domain": ".".join(parts[-n_suffix:]),
        "subdomain": ".".join(parts[: -n_suffix - 1]),
    }


def _networks(ip: str, networks: dict) -> dict:
    addr = ipaddress.ip_address(ip)
    inside = sorted(n for n, cidrs in networks.items()
                    if any(addr in ipaddress.ip_network(c) for c in cidrs))
    outside = sorted(n for n in networks if n not in inside)
    return {"in_network": inside or None, "not_in_network": outside or None}


def _procs(config: dict) -> dict:
    return {name: cfg for item in config["pipeline"] for name, cfg in item.items()}


def batch_expected(events: list[dict], config: dict) -> tuple[int, dict, dict]:
    """``events_batch``: (main output row count, {event_id: projected
    row} for the sample, {event_id: side-output row} for the sample)."""
    procs = _procs(config)
    secret = procs["pseudonymizer"]["secret"]
    networks = procs["network_comparison"]["rules"][0]["network_comparison"]["networks"]
    resolve = procs["generic_resolver"]["rules"][0]["generic_resolver"]["resolve_list"]
    labels = procs["labeler"]["rules"]
    n_main = 0
    main: dict = {}
    side: dict = {}
    for e in events:
        if e["level"] == "debug":
            continue
        n_main += 1
        if e["event_id"] % SAMPLE_MOD:
            continue
        method, path, status, nbytes = e["message"].split(" ")
        level_num = next((v for k, v in resolve.items() if re.search(k, e["level"])), None)
        main[e["event_id"]] = {
            "http": {"method": method, "path": path, "status": int(status), "bytes": int(nbytes)},
            "decoded": json.loads(e["payload"]),
            "@timestamp": e["when"][:-1] + ".000Z",
            "url": _domain(e["domain"]),
            "level_num": level_num,
            "user_name": "<pseudonym:"
            + hashlib.sha256((secret + e["user_name"]).encode()).hexdigest() + ">",
            "net": _networks(e["src_ip"], networks),
            "label": _labels(e, labels),
            "tag": f"{e['level']}|{e['event_type']}",
        }
        if e["level"] == "error":
            side[e["event_id"]] = {"event_id": e["event_id"], "src_ip": e["src_ip"]}
    return n_main, main, side


def batch_project(row: dict) -> dict:
    """The fields of an output row that :func:`batch_expected` covers,
    in the same normal form."""
    label = row.get("label")
    if label is not None:
        label = {k: sorted(v) for k, v in sorted(label.items()) if v is not None} or None
    net = row.get("net") or {}
    return {
        "http": row.get("http"),
        "decoded": row.get("decoded"),
        "@timestamp": row.get("@timestamp"),
        "url": row.get("url"),
        "level_num": row.get("level_num"),
        "user_name": row.get("user_name"),
        "net": {"in_network": sorted(net["in_network"]) if net.get("in_network") else None,
                "not_in_network": sorted(net["not_in_network"]) if net.get("not_in_network") else None},
        "label": label,
        "tag": row.get("tag"),
    }


def rules_expected(events: list[dict], config: dict) -> tuple[int, dict, dict]:
    """``rules_heavy``: (main row count, {event_id: (labels,
    pre_detection_id)} and {event_id: sorted alert rule ids}, both over
    the sample)."""
    procs = _procs(config)
    labels = procs["labeler"]["rules"]
    detect = procs["pre_detector"]["rules"]
    main: dict = {}
    alerts: dict = {}
    for e in events:
        if e["event_id"] % SAMPLE_MOD:
            continue
        hit = [r["pre_detector"]["id"] for r in detect if matches(e, r["filter"])]
        det_id = None
        if hit:
            det_id = hashlib.sha256(f"{hit[-1]}|{e['event_id']}".encode()).hexdigest()
        main[e["event_id"]] = {"label": _labels(e, labels), "pre_detection_id": det_id}
        alerts[e["event_id"]] = sorted(hit)
    return len(events), main, alerts


def rules_project(row: dict) -> dict:
    label = row.get("label")
    if label is not None:
        label = {k: sorted(v) for k, v in sorted(label.items()) if v is not None} or None
    return {"label": label, "pre_detection_id": row.get("pre_detection_id")}


def digest(rows: dict) -> str:
    """Order-insensitive digest of {id: row}: xor of per-row sha256."""
    acc = 0
    for k, v in rows.items():
        h = hashlib.sha256(json.dumps([k, v], sort_keys=True).encode()).digest()
        acc ^= int.from_bytes(h[:8], "big")
    return f"{acc:016x}"


def compare(got: dict, want: dict) -> int:
    """Sample rows that are missing, extra or different."""
    keys = set(got) | set(want)
    return sum(1 for k in keys if got.get(k) != want.get(k))
