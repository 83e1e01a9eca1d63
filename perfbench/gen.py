"""Seeded input generation for the benchmark.

Every input the program sees is derived here from ``(seed, size)``
with a private ``random.Random``: event JSONL, the pipeline configs
and rule corpora, the corpus documents and the benchmark texts the
decontamination Bloom filter is built from. Files are written once per
``(kind, seed, size)`` into the work directory and reused; the
manifest records a sha256 per file so :func:`selfcheck` can show that
one seed always yields byte-identical inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

EVENT_TYPES = ["click", "view", "purchase", "signup", "error", "login", "logout"]
LEVELS = ["info", "warning", "error", "debug"]
LEVEL_WEIGHTS = [55, 20, 15, 10]
METHODS = ["GET", "POST", "PUT", "DELETE"]
STATUSES = [200, 201, 204, 301, 304, 400, 403, 404, 500, 503]
RESOURCES = ["users", "orders", "items", "carts", "reports", "sessions"]
SUFFIXES = ["com", "org", "net", "de", "io", "co.uk"]
NAMES = ["alice", "bob", "carol", "dave", "erin", "frank", "grace", "heidi"]
SURNAMES = ["smith", "jones", "meyer", "brown", "wilson", "clark"]
NETWORKS = {
    "internal": ["10.0.0.0/8", "192.168.0.0/16"],
    "documentation": ["203.0.113.0/24", "198.51.100.0/24"],
}
EVENT_FILES = 8
# 2024-03-01T00:00:00Z
BASE_EPOCH = 1709251200

EVENT_SCHEMA = (
    "event_id long, event_type string, level string, user_id long, "
    "message string, payload string, `when` string, domain string, "
    "user_name string, src_ip string"
)


def _write(path: str, text: str, manifest: dict) -> None:
    data = text.encode()
    with open(path, "wb") as fh:
        fh.write(data)
    manifest[os.path.basename(path)] = hashlib.sha256(data).hexdigest()


def _ip(rng: random.Random) -> str:
    kind = rng.randrange(4)
    if kind == 0:
        return f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"
    if kind == 1:
        return f"192.168.{rng.randrange(256)}.{rng.randrange(1, 255)}"
    if kind == 2:
        return f"203.0.113.{rng.randrange(1, 255)}"
    return f"{rng.randrange(11, 100)}.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"


def make_event(rng: random.Random, event_id: int) -> dict:
    """One event; every field a processor of the benchmark reads."""
    etype = rng.choice(EVENT_TYPES)
    level = rng.choices(LEVELS, LEVEL_WEIGHTS)[0]
    method = rng.choice(METHODS)
    path = f"/api/v{rng.randrange(1, 3)}/{rng.choice(RESOURCES)}/{rng.randrange(10000)}"
    status = rng.choice(STATUSES)
    labels = rng.randrange(3)
    sub = ".".join(f"s{rng.randrange(50)}" for _ in range(labels))
    domain = f"site{rng.randrange(200)}.{rng.choice(SUFFIXES)}"
    t = BASE_EPOCH + event_id * 7 + rng.randrange(7)
    return {
        "event_id": event_id,
        "event_type": etype,
        "level": level,
        "user_id": rng.randrange(1000),
        "message": f"{method} {path} {status} {rng.randrange(100, 100000)}",
        "payload": json.dumps(
            {"user": f"u{rng.randrange(5000)}", "action": etype, "session": f"{rng.getrandbits(32):08x}"}
        ),
        "when": _iso(t),
        "domain": f"{sub}.{domain}" if sub else domain,
        "user_name": f"{rng.choice(NAMES)}.{rng.choice(SURNAMES)}",
        "src_ip": _ip(rng),
    }


def _iso(t: int) -> str:
    import time

    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(t))


def labeler_rules(rng: random.Random, n: int, wildcard_share: float = 0.0) -> list[dict]:
    """Sigma-style labeler rules: a shared equality plus a range, so
    the dispatch hoist groups them; ``wildcard_share`` of them use a
    wildcard on ``domain``, which the hoist refuses."""
    rules = []
    for i in range(n):
        et = rng.choice(EVENT_TYPES)
        lo = rng.randrange(0, 900)
        hi = lo + rng.randrange(20, 120)
        if rng.random() < wildcard_share:
            filt = f"domain:*site{rng.randrange(200)}.* AND user_id:[{lo} TO {hi}]"
        else:
            filt = f"event_type:{et} AND user_id:[{lo} TO {hi}]"
        label = {"action": [f"L{i:04d}"]}
        if i % 3 == 0:
            label["origin"] = [f"O{i % 7}"]
        rules.append({"filter": filt, "labeler": {"label": label}})
    return rules


def pre_detector_rules(rng: random.Random, n: int, regex_share: float = 0.0) -> list[dict]:
    """Sigma-style detection rules; ``regex_share`` use a regex on
    ``user_name``, which the hoist refuses."""
    rules = []
    for i in range(n):
        lo = rng.randrange(0, 950)
        hi = lo + rng.randrange(5, 60)
        if rng.random() < regex_share:
            filt = f"user_name:/{rng.choice(NAMES)}\\..*/ AND user_id:[{lo} TO {hi}]"
        else:
            filt = f"level:{rng.choice(LEVELS[:3])} AND user_id:[{lo} TO {hi}]"
        rules.append(
            {
                "filter": filt,
                "regex_fields": ["user_name"],
                "pre_detector": {
                    "id": f"R{i:04d}",
                    "title": f"detection {i}",
                    "severity": ("low", "medium", "high")[i % 3],
                    "mitre": [f"attack.t{1000 + i % 50}"],
                    "case_condition": "directly",
                },
            }
        )
    return rules


def batch_processors(rng: random.Random) -> list[dict]:
    """The ten-processor chain of ``events_batch`` plus the selective
    extractor side output, in reference ``pipeline:`` form."""
    return [
        {"decoder": {"type": "decoder", "rules": [
            {"filter": "payload", "decoder": {"source_fields": ["payload"], "target_field": "decoded"}}]}},
        {"dissector": {"type": "dissector", "rules": [
            {"filter": "message", "dissector": {
                "mapping": {"message": "%{http.method} %{http.path} %{http.status} %{http.bytes}"},
                "convert_datatype": {"http.status": "int", "http.bytes": "int"}}}]}},
        {"timestamper": {"type": "timestamper", "rules": [
            {"filter": "when", "timestamper": {"source_fields": ["when"]}}]}},
        {"domain_label_extractor": {"type": "domain_label_extractor", "rules": [
            {"filter": "domain", "domain_label_extractor": {"source_fields": ["domain"], "target_field": "url"}}]}},
        {"generic_resolver": {"type": "generic_resolver", "rules": [
            {"filter": "level", "generic_resolver": {
                "field_mapping": {"level": "level_num"},
                "resolve_list": {"^err": "3", "^warn": "4", "^info$": "6", "^debug$": "7"}}}]}},
        {"pseudonymizer": {"type": "pseudonymizer", "secret": f"k{rng.getrandbits(32):08x}", "rules": [
            {"filter": "user_name", "pseudonymizer": {"mapping": {"user_name": "[a-z]+\\.[a-z]+"}}}]}},
        {"network_comparison": {"type": "network_comparison", "rules": [
            {"filter": "src_ip", "network_comparison": {
                "source_fields": ["src_ip"], "target_field": "net", "networks": NETWORKS}}]}},
        {"labeler": {"type": "labeler", "rules": labeler_rules(rng, 20)}},
        {"concatenator": {"type": "concatenator", "rules": [
            {"filter": "*", "concatenator": {
                "source_fields": ["level", "event_type"], "target_field": "tag", "separator": "|"}}]}},
        {"deleter": {"type": "deleter", "rules": [
            {"filter": "level:debug", "deleter": {"delete": True}}]}},
        {"selective_extractor": {"type": "selective_extractor", "rules": [
            {"filter": "level:error", "selective_extractor": {
                "source_fields": ["event_id", "src_ip"], "outputs": [{"jsonl": "errors"}]}}]}},
    ]


def rules_heavy_processors(rng: random.Random, n_labels: int, n_detect: int) -> list[dict]:
    return [
        {"labeler": {"type": "labeler", "rules": labeler_rules(rng, n_labels, 0.1)}},
        {"pre_detector": {"type": "pre_detector", "id_fields": ["event_id"],
                          "rules": pre_detector_rules(rng, n_detect, 0.1)}},
    ]


def ensure_events(work: str, kind: str, seed: int, n_events: int, **sizes) -> str:
    """Event JSONL plus the pipeline config for ``kind``; returns the
    directory. Cached per (kind, seed, size)."""
    tag = "-".join([kind, f"s{seed}", f"n{n_events}", *(f"{k}{v}" for k, v in sorted(sizes.items()))])
    out = os.path.join(work, "inputs", tag)
    if os.path.exists(os.path.join(out, "manifest.json")):
        return out
    os.makedirs(out, exist_ok=True)
    rng = random.Random(f"{kind}:{seed}")
    manifest: dict = {}
    lines = [json.dumps(make_event(rng, i), sort_keys=True) for i in range(n_events)]
    # a spool directory of several files, as a shipper leaves them
    os.makedirs(os.path.join(out, "events"))
    step = -(-n_events // EVENT_FILES)
    for f in range(EVENT_FILES):
        chunk = lines[f * step:(f + 1) * step]
        _write(os.path.join(out, "events", f"part-{f:03d}.jsonl"), "\n".join(chunk) + "\n", manifest)
    if kind == "rules_heavy":
        procs = rules_heavy_processors(rng, sizes["labels"], sizes["detect"])
    else:
        procs = batch_processors(rng)
    config = {"version": 1, "rule_dispatch": kind == "rules_heavy", "pipeline": procs}
    _write(os.path.join(out, "pipeline.json"), json.dumps(config, sort_keys=True, indent=1), manifest)
    _write(os.path.join(out, "manifest.json"), json.dumps(manifest, sort_keys=True), {})
    return out


def load_events(path: str) -> list[dict]:
    rows = []
    for name in sorted(os.listdir(os.path.join(path, "events"))):
        with open(os.path.join(path, "events", name), encoding="utf-8") as fh:
            rows.extend(json.loads(line) for line in fh if line.strip())
    return rows


# --- corpus documents ------------------------------------------------

_STOP = ["the", "a", "and", "of", "to", "in", "is", "that", "for", "with"]
_WORDS = (
    "spark stream batch table query filter scan join group order value key row column "
    "window hash merge sort index vector cluster data log event rule parse token split "
    "train model score label field record schema shard node graph edge path cache"
).split()


def _doc_text(rng: random.Random) -> str:
    n = rng.randrange(25, 90)
    return " ".join(rng.choice(_STOP) if rng.random() < 0.25 else rng.choice(_WORDS) for _ in range(n))


def _mutate(rng: random.Random, text: str) -> str:
    words = text.split()
    for _ in range(max(1, len(words) // 40)):
        words[rng.randrange(len(words))] = rng.choice(_WORDS)
    return " ".join(words)


def ensure_docs(work: str, seed: int, n_docs: int) -> str:
    """Corpus documents (doc_id, text) as JSONL, in the shape of the
    repository's ``documents`` test table: a small vocabulary with stop
    words, plus near-duplicate copies so the cluster dedup has real
    clusters. Docs with ``doc_id % 5 == 0`` are the held-out benchmark
    set the decontamination Bloom filter is built from."""
    out = os.path.join(work, "inputs", f"corpus-s{seed}-n{n_docs}")
    if os.path.exists(os.path.join(out, "manifest.json")):
        return out
    os.makedirs(out, exist_ok=True)
    rng = random.Random(f"corpus:{seed}")
    texts: list[str] = []
    for _ in range(n_docs):
        if texts and rng.random() < 0.15:
            texts.append(_mutate(rng, rng.choice(texts)))
        elif rng.random() < 0.03:
            texts.append("lorem ipsum dolor sit amet " * 3)  # no stop words: gopher drops it
        else:
            texts.append(_doc_text(rng))
    manifest: dict = {}
    lines = [json.dumps({"doc_id": i, "text": t}) for i, t in enumerate(texts)]
    _write(os.path.join(out, "documents.jsonl"), "\n".join(lines) + "\n", manifest)
    _write(os.path.join(out, "manifest.json"), json.dumps(manifest, sort_keys=True), {})
    return out


def manifest(path: str) -> dict:
    with open(os.path.join(path, "manifest.json"), encoding="utf-8") as fh:
        return json.load(fh)


def selfcheck(work: str) -> bool:
    """Same seed → byte-identical inputs; another seed → different."""
    import shutil

    ok = True
    for kind in ("events_batch", "rules_heavy"):
        sizes = {"labels": 50, "detect": 20} if kind == "rules_heavy" else {}
        digests = []
        for sub, seed in (("a", 7), ("b", 7), ("c", 8)):
            base = os.path.join(work, "selfcheck", sub)
            shutil.rmtree(base, ignore_errors=True)
            digests.append(manifest(ensure_events(base, kind, seed, 500, **sizes)))
        ok &= digests[0] == digests[1] and digests[0] != digests[2]
    digests = []
    for sub, seed in (("a", 7), ("b", 7), ("c", 8)):
        base = os.path.join(work, "selfcheck", sub)
        digests.append(manifest(ensure_docs(base, seed, 300)))
    ok &= digests[0] == digests[1] and digests[0] != digests[2]
    shutil.rmtree(os.path.join(work, "selfcheck"), ignore_errors=True)
    return ok
