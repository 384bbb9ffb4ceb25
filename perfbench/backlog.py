"""Seeded SQS backlog + consignment packages for the `stream_ingest`
workload, and the effects the pipeline must produce from them.

The expectations are derived here from the generated mix alone, by the
routing rules the reference documents (URI cascade, publish and email
ladders, asset fan-out), never from a saved copy of the pipeline's
output. Every micro-batch file mixes:

- inserts of consignments not seen before;
- redeliveries of consignments delivered in an earlier batch, with the
  same SQS messageId (the queue's at-least-once model), so the documents
  MERGE takes its update path;
- invalid messages (empty reference, an empty Records array, a body that
  is not JSON), which the pipeline quarantines before analysis;
- one message from an originator the routing ladder does not know, which
  analysis routes to quarantine (`perform_ingest`'s own DLQ write);
- originators TDR / FCL / FCL S3, and NCN or parser-URI hits on
  identifiers planted in the index (cascade `resolved_*`, exists=True).
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import random
import tarfile
from dataclasses import dataclass

ID_PREFIX = "https://caselaw.nationalarchives.gov.uk/id/"
AKN_NS = "http://docs.oasis-open.org/legaldocml/ns/akn/3.0"
ORIGINATORS = ("TDR", "FCL", "FCL S3")
KINDS = ("judgment", "pressSummary", "parserLog")
ROUTES = ("ncn", "parser", "new")
EFFECT_TABLES = (
    "versions",
    "identifiers",
    "properties",
    "notifications",
    "assets",
    "asset_copies",
)
SINK_TABLES = ("documents", *EFFECT_TABLES, "quarantine")
# Analysis sends this originator's messages to quarantine (email_action
# 'error'). Its messages, references and packages do not depend on the
# seed, nor do the invalid messages': together they hit the known DLQ
# fault (see workloads.check_sinks) in every batch of every run.
UNKNOWN_ORIGINATOR = "Unknown Sender"


@dataclass
class Consignment:
    ref: str
    originator: str
    kind: str
    route: str
    auto_publish: bool
    source: str | None
    images: tuple[str, ...]
    has_log: bool
    cite: str | None
    planted_uri: str | None
    message_id: str


@dataclass
class Backlog:
    consignments: dict[str, Consignment]
    identifiers: list[tuple[str | None, str | None, str, str]]
    # the SQS record JSON lines of each micro-batch file
    batches: list[list[str]]
    # per batch: refs of its valid messages, ids of its invalid ones, ids
    # of its unknown-originator ones
    batch_refs: list[list[str]]
    batch_invalid: list[list[str]]
    batch_rejected: list[list[str]]


def _tar(members: list[tuple[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tf:
        for name, data in members:
            info = tarfile.TarInfo(name=name)
            info.size = len(data)
            info.mtime = 1_700_000_000
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def _record(message_id: str, body: str) -> str:
    return json.dumps({"messageId": message_id, "eventSource": "aws:sqs", "body": body})


def _v2_body(ref: str, originator: str) -> str:
    payload = {
        "parameters": {
            "reference": ref,
            "originator": originator,
            "s3Bucket": "ingest-bucket",
            "s3Key": f"{ref}.tar.gz",
        }
    }
    return json.dumps({"Message": json.dumps(payload)})


# empty reference; an empty Records array; a body that is not JSON
INVALID_BODIES = (
    _v2_body("", "TDR"),
    json.dumps({"Message": json.dumps({"Records": []})}),
    "{not json",
)


def _metadata(c: Consignment, rng: random.Random) -> bytes:
    params: dict = {
        "TRE": {
            "reference": c.ref,
            "payload": {
                "filename": c.source,
                "xml": f"{c.ref}.xml",
                "images": list(c.images),
            },
        },
        "PARSER": {
            "uri": ID_PREFIX + c.planted_uri if c.route == "parser" else None,
            "cite": c.cite,
            "parser_run_id": f"run-{c.ref}",
        },
        "INGESTER_OPTIONS": {"auto_publish": c.auto_publish},
    }
    if c.originator == "TDR":
        params["TDR"] = {
            "Source-Organization": f"Court {rng.randrange(40)}",
            "Contact-Name": f"Clerk {rng.randrange(900)}",
            "Contact-Email": f"clerk{rng.randrange(900)}@example.org",
            "Internal-Sender-Identifier": c.ref,
            "Consignment-Completed-Datetime": f"2025-01-{1 + rng.randrange(28):02d}T10:00:00Z",
        }
    return json.dumps({"parameters": params}).encode()


def _xml(c: Consignment, rng: random.Random) -> bytes:
    words = " ".join(rng.choice(("appeal", "court", "order", "claim", "costs")) for _ in range(40))
    if c.kind == "judgment":
        return f'<judgment xmlns="{AKN_NS}"><p>{words}</p></judgment>'.encode()
    if c.kind == "pressSummary":
        return f'<doc name="pressSummary"><p>{words}</p></doc>'.encode()
    return f"<judgment><p>{words}</p>".encode()  # unclosed: parser.log fallback


def package(c: Consignment, seed: int) -> bytes:
    """The consignment's `.tar.gz`: metadata, named XML, source document,
    optional parser.log and images, all under `{ref}/`."""
    rng = random.Random(f"{0 if c.originator == UNKNOWN_ORIGINATOR else seed}:{c.ref}")
    members = [
        (f"{c.ref}/TRE-{c.ref}-metadata.json", _metadata(c, rng)),
        (f"{c.ref}/{c.ref}.xml", _xml(c, rng)),
    ]
    if c.source:
        members.append((f"{c.ref}/{c.source}", rng.randbytes(2048)))
    if c.has_log:
        members.append((f"{c.ref}/parser.log", f"parse of {c.ref}: <warn> & done".encode()))
    for img in c.images:
        members.append((f"{c.ref}/{img}", rng.randbytes(1024)))
    return _tar(members)


def generate(seed: int, n_batches: int, per_batch: int) -> Backlog:
    """`n_batches` micro-batch files of `per_batch` messages each.

    Every batch after the first holds 2 redeliveries, 3 invalid messages,
    1 unknown-originator message and `per_batch - 6` fresh consignments
    (the first has no redeliveries: `per_batch - 4` fresh). Fresh consignments cycle through the 24
    originator x document kind x URI route combinations in a seeded order,
    so every 24 of them cover each combination once, whatever the seed.
    """
    rng = random.Random(seed)
    combos = [
        (o, k, r)
        for o in ORIGINATORS
        for k in KINDS
        for r in ROUTES
        # a parserLog document has no identifier class: no NCN lookup
        if not (k == "parserLog" and r == "ncn")
    ]
    consignments: dict[str, Consignment] = {}
    identifiers: list[tuple[str | None, str | None, str, str]] = []
    batches: list[list[str]] = []
    batch_refs: list[list[str]] = []
    batch_invalid: list[list[str]] = []
    batch_rejected: list[list[str]] = []
    order: list[tuple[str, str, str]] = []
    n = 0
    for b in range(n_batches):
        lines, refs, bad = [], [], []
        n_redeliver = 2 if b else 0
        for ref in rng.sample(sorted({r for rs in batch_refs for r in rs}), n_redeliver):
            c = consignments[ref]
            lines.append(_record(c.message_id, _v2_body(c.ref, c.originator)))
            refs.append(ref)
        for _ in range(per_batch - len(INVALID_BODIES) - 1 - n_redeliver):
            if not order:
                order = rng.sample(combos, len(combos))
            originator, kind, route = order.pop()
            ref = f"TDR-2025-{seed % 100000:05d}{n:04d}"
            n += 1
            year = 2000 + rng.randrange(25)
            court = "ewca/civ" if kind == "judgment" else "uksc"
            planted = f"{court}/{year}/{n}"
            cite = f"[{year}] EWCA Civ {n}" if kind != "parserLog" else None
            c = Consignment(
                ref=ref,
                originator=originator,
                kind=kind,
                route=route,
                auto_publish=originator == "FCL S3" and rng.random() < 0.5,
                source=rng.choice((None, "judgment.docx", "order.pdf")),
                images=tuple(f"image{i}.png" for i in range(rng.randrange(3))),
                has_log=kind == "parserLog" or rng.random() < 0.5,
                cite=cite,
                planted_uri=planted if route != "new" else None,
                message_id=f"m-{seed}-{n}",
            )
            if route == "ncn":
                ns = "ukncn" if kind == "judgment" else "pressSummaryNcn"
                identifiers.append((None, cite, ns, planted))
            elif route == "parser":
                identifiers.append((planted, None, "fclid", planted))
            consignments[ref] = c
            lines.append(_record(c.message_id, _v2_body(c.ref, c.originator)))
            refs.append(ref)
        for j, body in enumerate(INVALID_BODIES):
            mid = f"bad-{b}-{j}"
            lines.append(_record(mid, body))
            bad.append(mid)
        unknown = Consignment(
            ref=f"UNK-{b:04d}",
            originator=UNKNOWN_ORIGINATOR,
            kind="judgment",
            route="new",
            auto_publish=False,
            source=None,
            images=(),
            has_log=False,
            cite=None,
            planted_uri=None,
            message_id=f"unknown-{b}",
        )
        consignments[unknown.ref] = unknown
        lines.append(_record(unknown.message_id, _v2_body(unknown.ref, unknown.originator)))
        rng.shuffle(lines)
        batches.append(lines)
        batch_refs.append(refs)
        batch_invalid.append(bad)
        batch_rejected.append([unknown.message_id])
    return Backlog(consignments, identifiers, batches, batch_refs, batch_invalid, batch_rejected)


def document_uri(c: Consignment) -> str:
    """Cascade outcome: a planted identifier's uri, else the engine's
    documented deterministic surrogate for the reference's uuid4 id."""
    if c.planted_uri is not None:
        return c.planted_uri
    return "d-" + hashlib.md5(c.message_id.encode()).hexdigest()


def expectations(bl: Backlog, n_batches: int) -> dict:
    """Sink contents that follow from the first `n_batches` batches:
    documents by uri, every effect table's row count, and the message
    ids quarantine must hold: the invalid ones, quarantined before
    analysis, and the rejected (unknown-originator) ones, quarantined by
    analysis."""
    published: dict[str, bool] = {}
    docs: dict[str, tuple[str, bool]] = {}
    counts = dict.fromkeys(EFFECT_TABLES, 0)
    for refs in bl.batch_refs[:n_batches]:
        batch_pub: dict[str, bool] = {}
        for ref in refs:
            c = bl.consignments[ref]
            uri = document_uri(c)
            exists = c.route != "new"
            if c.originator == "TDR":
                will = False
            elif c.originator == "FCL S3":
                will = c.auto_publish
            else:  # FCL reparse: only an existing, already published document
                will = exists and published.get(uri, False)
            batch_pub[uri] = will
            docs[uri] = (c.kind, will)
            n_assets = 1 + (c.source is not None) + c.has_log + len(c.images)
            counts["versions"] += 1
            counts["identifiers"] += c.kind != "parserLog" and bool(c.cite)
            counts["properties"] += 1 + 5 * (c.originator == "TDR")
            counts["notifications"] += c.originator == "TDR"
            counts["assets"] += n_assets
            counts["asset_copies"] += n_assets * will
        published.update(batch_pub)
    return {
        "documents": docs,
        "counts": counts,
        "invalid": sorted(m for bad in bl.batch_invalid[:n_batches] for m in bad),
        "rejected": sorted(m for ids in bl.batch_rejected[:n_batches] for m in ids),
    }


def write_batch(bl: Backlog, i: int, msg_dir: str) -> str:
    """Drop micro-batch file `i` into the queue directory."""
    os.makedirs(msg_dir, exist_ok=True)
    path = os.path.join(msg_dir, f"batch-{i:04d}.json")
    with open(path, "w") as f:
        f.write("\n".join(bl.batches[i]) + "\n")
    return path


def write_packages(bl: Backlog, seed: int, pkg_dir: str) -> None:
    """One `.tar.gz` per consignment, named by its reference."""
    os.makedirs(pkg_dir, exist_ok=True)
    for c in bl.consignments.values():
        with open(os.path.join(pkg_dir, f"{c.ref}.tar.gz"), "wb") as f:
            f.write(package(c, seed))
