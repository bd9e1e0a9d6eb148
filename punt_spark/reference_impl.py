"""Pure-Python oracle — a faithful row-at-a-time port of the reference's
semantics, used ONLY by tests to pin the Spark pipeline's outputs.

Mirrors the worker loop order (/root/reference/lib/punt/cluster.go:244-324):
tag dispatch → (save envelope timestamp) → transform → mutators → index name
+ @timestamp + punt-server stamps, with the same counters. Parse mirrors
ParseRFC3164Inplace (/root/reference/lib/syslog/parser.go:47-106).

Documented divergences (shared with the Spark engine, SURVEY.md §7):
* malformed rows go to the errors output only (the reference forwards them
  with stale struct state — server.go:202-215, a bug);
* unixtime epoch math is correct (mutators.go:54 double-counts seconds);
* alert rollup windows are event-time tumbling (the reference's windows are
  wall-clock arrival-time, unreproducible by construction);
* delivery is exactly-once (msgs.dropped ≡ 0).
"""

from __future__ import annotations

import json
import re
from collections import Counter
from datetime import datetime, timedelta, timezone

from .config import PipelineConfig
from .parse import (
    ERR_INVALID_MESSAGE,
    ERR_INVALID_PID,
    ERR_INVALID_PRIORITY,
    ERR_INVALID_TIMESTAMP,
    RFC3164_REGEX,
)

# re.ASCII: \w and \d match ASCII only, as in Go's RE2 (parser.go:11)
_PATTERN = re.compile(RFC3164_REGEX, re.ASCII)
_I32_MAX = 2_147_483_647


def _int32(digits: str) -> int | None:
    """A digit string's value, or None beyond int32 — the PRI/PID struct
    field type on the Spark side, where a larger value is invalid. The
    length check comes first: int() refuses strings over 4300 digits."""
    d = digits.lstrip("0") or "0"
    return int(d) if len(d) <= 10 and int(d) <= _I32_MAX else None

# Go layout "2006.01.02.15" etc. → strftime for the oracle side.
_GO_TO_STRFTIME = [
    ("2006", "%Y"),
    ("01", "%m"),
    ("02", "%d"),
    ("15", "%H"),
    ("04", "%M"),
    ("05", "%S"),
    ("Jan", "%b"),
]


def go_format_to_strftime(layout: str) -> str:
    out = layout
    for go_tok, py_tok in _GO_TO_STRFTIME:
        out = out.replace(go_tok, py_tok)
    return out


def parse_line(line: str, year: int) -> tuple[dict | None, str | None]:
    """Port of ParseRFC3164Inplace: returns (envelope, error)."""
    m = _PATTERN.search(line)
    if m is None:
        return None, ERR_INVALID_MESSAGE
    pri_s, ts_s, hostname, tag, pid_s, content = m.group(1, 2, 3, 4, 5, 6)
    priority = _int32(pri_s)  # regex guarantees digits (parser.go:64-67)
    if priority is None:
        return None, ERR_INVALID_PRIORITY
    ts_norm = re.sub(r"\s+", " ", ts_s)
    try:
        ts = datetime.strptime(f"{year} {ts_norm}", "%Y %b %d %H:%M:%S")
    except ValueError:
        return None, ERR_INVALID_TIMESTAMP
    pid = _int32(pid_s) if pid_s else 0
    if pid is None:
        return None, ERR_INVALID_PID
    return (
        {
            "priority": priority,
            "ts": ts,
            "hostname": hostname,
            "tag": tag,
            "pid": pid,
            "content": content,
        },
        None,
    )


def run_reference(
    rows: list[dict],
    cfg: PipelineConfig,
    lookups: dict[str, dict[str, dict]] | None = None,
) -> dict:
    """Run the full reference pipeline over transcript rows (each with
    conv_id, turn_idx, role, text, tool, ts). Returns sinks / errors /
    metrics / alerts."""
    lookups = lookups or {}
    sinks: dict[str, list[dict]] = {t.sink_name: [] for t in cfg.types.values()}
    errors: list[dict] = []
    counters: Counter = Counter()
    alert_events: dict[str, list[dict]] = {a.name: [] for a in cfg.alerts}

    for row in rows:
        envelope, err = parse_line(row["text"], cfg.reference_year)
        if err is not None:
            errors.append({"data": row["text"], "error": err})
            continue
        envelope["source"] = f"conv:{row['conv_id']}"

        # tag dispatch with '*' fallback (cluster.go:253-263)
        tag = envelope["tag"]
        counters[f"msgs.received|{tag}"] += 1
        typ = cfg.types.get(tag) or cfg.catchall
        if typ is None:
            counters[f"msgs.unhandled|{tag}"] += 1
            continue

        # envelope timestamp saved before transform (cluster.go:265)
        ts = envelope["ts"]

        # transform (cluster.go:272-277)
        payload = dict(envelope)
        if typ.transformer in ("unpack-merge", "unpack-take"):
            try:
                data = json.loads(envelope["content"])
                if not isinstance(data, dict):
                    raise ValueError("not an object")
            except (ValueError, TypeError):
                counters[f"msgs.failed|{tag}"] += 1
                continue
            if typ.transformer == "unpack-merge":
                payload.update(data)
                del payload["content"]
            else:
                payload = data

        # mutators (cluster.go:280-282); errors silently ignored
        for mut in typ.mutators:
            if mut.name == "unixtime":
                fmt = mut.config.get("format", "2006-01-02T15:04:05+00:00")
                sfmt = go_format_to_strftime(fmt)
                for in_f, out_f in mut.config["fields"].items():
                    if in_f not in payload:
                        continue
                    try:
                        v = float(payload[in_f])
                    except (TypeError, ValueError):
                        continue
                    # correct math (reference bug at mutators.go:54 diverged)
                    payload[out_f] = datetime.fromtimestamp(
                        v, tz=timezone.utc
                    ).strftime(sfmt)
            elif mut.name in ("lookup", "geoip"):
                key = mut.config["on"]
                prefix = mut.config.get("prefix", key)
                dim = lookups.get(key, {})
                hit = dim.get(row.get(key))
                for out_col in ("category", "risk_code", "coords"):
                    payload[f"{prefix}_{out_col}"] = (
                        hit.get(out_col) if hit else None
                    )

        # route key + stamps (cluster.go:284-286)
        strf = go_format_to_strftime(typ.date_format)
        route_key = typ.prefix + ts.strftime(strf)
        payload["route_key"] = route_key
        payload["ts_day"] = ts.strftime("%Y-%m-%d")
        payload["@timestamp"] = ts.strftime("%Y-%m-%dT%H:%M:%S+00:00")
        payload["punt-server"] = cfg.job_id
        payload["conv_id"] = row["conv_id"]
        payload["turn_idx"] = row["turn_idx"]
        payload["role"] = row["role"]
        payload["tool"] = row["tool"]
        payload["turn_ts"] = row["ts"]

        # alerts (cluster.go:303-305) — match on the post-mutate payload
        for a in cfg.alerts:
            if a.sources and typ.name not in a.sources:
                continue
            src = payload.get(a.source_field)
            if isinstance(src, str) and re.search(a.match, src):
                alert_events[a.name].append({"ts": ts, "payload": payload})

        sinks[typ.sink_name].append(payload)
        counters[f"msgs.processed|{tag}"] += 1

    # alert rollup: event-time tumbling windows (epoch-aligned, like
    # F.window), first event per window renders title/description
    alerts_out: list[dict] = []
    actions_out: list[dict] = []
    for a in cfg.alerts:
        evs = sorted(alert_events[a.name], key=lambda e: e["ts"])
        w = a.rollup_window_sec
        if w == 0:
            # no rollup: one single-event window PER EVENT, even when
            # timestamps collide (alert.go:60-63 fires the action per
            # message) — keyed by event identity, not by ts
            window_groups = [(e["ts"], [e]) for e in evs]
        else:
            windows: dict[datetime, list[dict]] = {}
            for e in evs:
                epoch = int(e["ts"].replace(tzinfo=timezone.utc).timestamp())
                start = datetime.utcfromtimestamp(epoch - epoch % w)
                windows.setdefault(start, []).append(e)
            window_groups = sorted(windows.items())
        act = cfg.actions.get(a.action) if hasattr(cfg, "actions") else None
        for start, group in window_groups:
            # "first" event = lexicographic min of the RENDERED tuple
            # (ts, title, description, fields...) — ties on ts alone would
            # otherwise be engine-arbitrary (Python stable sort preserves
            # append order; Spark min_by picks any); both engines pin this
            # rule so the chosen event is deterministic and coherent.
            def _key(e):
                p = e["payload"]
                return (
                    e["ts"],
                    _render(a.title, p),
                    _render(a.description, p),
                    tuple(_render(v, p) for v in a.fields.values()),
                )

            chosen = min(group, key=_key)
            first = chosen["payload"]
            title = _render(a.title, first)
            if len(group) > 1:
                title += f" ({len(group) - 1} similar events)"
            row = {
                "alert_name": a.name,
                "window_start": start,
                "window_end": start + timedelta(seconds=w),
                "n_events": len(group),
                "title": title,
                "description": _render(a.description, first),
                "first_ts": group[0]["ts"],
                **{
                    f"field_{k}": _render(v, first)
                    for k, v in a.fields.items()
                },
            }
            alerts_out.append(row)
            if act is not None:
                # Action.Run embed payload (action.go:105-122): first
                # event's title/description/fields, action's color/url,
                # RFC3339 timestamp of infos[0].Log["timestamp"].
                fields = [
                    {
                        "name": k,
                        "value": _render(v, first),
                        "inline": False,
                    }
                    for k, v in a.fields.items()
                ]
                actions_out.append(
                    {
                        "alert_name": a.name,
                        "action_name": act.name,
                        "action_type": act.type,
                        "window_start": start,
                        "window_end": start + timedelta(seconds=w),
                        "n_events": len(group),
                        "title": title,
                        "description": _render(a.description, first),
                        "url": act.url,
                        "color": act.color,
                        "timestamp": group[0]["ts"].strftime(
                            "%Y-%m-%dT%H:%M:%SZ"
                        ),
                        "fields_json": json.dumps(
                            fields, separators=(",", ":")
                        ),
                    }
                )

    return {
        "sinks": sinks,
        "errors": errors,
        "counters": dict(counters),
        "alerts": alerts_out,
        "actions": actions_out,
    }


_FIELD_RE = re.compile(r"\{([A-Za-z_][A-Za-z0-9_]*)\}")


def _render(template: str, payload: dict) -> str:
    def sub(m):
        v = payload.get(m.group(1))
        return "" if v is None else str(v)

    return _FIELD_RE.sub(sub, template)
