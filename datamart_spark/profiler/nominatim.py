"""Address → coordinate resolution against a Nominatim server, with
the injectable-transport discipline (every request/retry/batch-split
decision is real and tested; only the HTTP
byte-moving is a callable, stdlib-urllib in production, canned
responses in tests — the sandbox has no network).

Reference semantics (lib_profiler/datamart_profiler/spatial.py:
189-311 and core.py:469-484):

- ``/search?q=...&format=jsonv2`` for single queries; batches of 30
  distinct values POSTed as ``batch=[{'q': ...}, ...]`` in one GET;
- 5 attempts with a 1 s pause on gateway errors (502/503/504);
- a 500/414 on a batch of ≥ 6 splits it in half and retries each;
- per-value cache; duplicate values replicate the cached coordinate
  into the result list (count-weighted, spatial.py:261);
- values longer than 90 chars are skipped; at most 200 distinct
  lookups per column;
- a TEXT column is ADDRESS iff ≥ 80% of its non-empty values resolve
  (MAX_UNCLEAN_ADDRESSES = 0.20, core.py:33,478-484).
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.parse
import urllib.request

#: reference constants (spatial.py:28-31, core.py:33)
MAX_ADDRESS_LENGTH = 90
NOMINATIM_BATCH_SIZE = 30
NOMINATIM_MIN_SPLIT_BATCH_SIZE = 6
MAX_NOMINATIM_REQUESTS = 200
MAX_UNCLEAN_ADDRESSES = 0.20

SEM_ADDRESS = "http://schema.org/address"


class NominatimError(RuntimeError):
    def __init__(self, msg: str, status: int | None = None):
        super().__init__(msg)
        self.status = status


def _default_fetch(url: str):
    """(status, content_type, body bytes) via stdlib urllib; no-network
    sandboxes surface a clean NominatimError."""
    try:
        with urllib.request.urlopen(url) as resp:
            return (
                resp.status,
                resp.headers.get("Content-Type", ""),
                resp.read(),
            )
    except urllib.error.HTTPError as e:
        return e.code, e.headers.get("Content-Type", ""), e.read()
    except urllib.error.URLError as e:
        raise NominatimError(f"Nominatim request failed: {e}") from e


def nominatim_query(url: str, q, fetch=None, sleep=time.sleep):
    """One resolution request; ``q`` a string (single) or list (batch).
    Retries gateway errors (502/503/504) up to 5 attempts with a 1 s
    pause (spatial.py:192-231); non-JSON responses are an error."""
    fetch = fetch or _default_fetch
    url = url.rstrip("/")
    if isinstance(q, (tuple, list)):
        qs = urllib.parse.urlencode(
            {"batch": json.dumps([{"q": qe} for qe in q]), "format": "jsonv2"}
        )
    else:
        qs = urllib.parse.urlencode({"q": q, "format": "jsonv2"})
    full = f"{url}/search?{qs}"
    status, ctype, body = None, "", b""
    for i in range(5):
        if i > 0:
            sleep(1)
        status, ctype, body = fetch(full)
        if status not in (502, 503, 504):
            break
    if status is None or status >= 400:
        raise NominatimError(f"Nominatim HTTP {status} for {full}", status)
    if not ctype.startswith("application/json"):
        raise NominatimError(f"response is not JSON for URL: {full}", status)
    obj = json.loads(body.decode("utf-8"))
    if isinstance(q, (tuple, list)):
        return obj["batch"]
    return obj


def _resolve_batch(url, batch, locations, cache, fetch, sleep) -> int:
    """Resolve one value→count batch; on 500/414 split batches of ≥ 6
    in half and retry each (spatial.py:234-266 — the reference writes
    the ``max(2, ·)`` floor verbatim at spatial.py:241, mirrored here
    even though the constant makes it inert).  Returns the count of
    rows whose value did not resolve."""
    try:
        locs = nominatim_query(url, list(batch.keys()), fetch=fetch, sleep=sleep)
    except NominatimError as e:
        if e.status in (500, 414) and len(batch) >= max(
            2, NOMINATIM_MIN_SPLIT_BATCH_SIZE
        ):
            items = list(batch.items())
            mid = len(items) // 2
            batch.clear()
            return _resolve_batch(
                url, dict(items[:mid]), locations, cache, fetch, sleep
            ) + _resolve_batch(
                url, dict(items[mid:]), locations, cache, fetch, sleep
            )
        raise

    not_found = 0
    for loc, (value, count) in zip(locs, batch.items()):
        if loc:
            coord = (float(loc[0]["lat"]), float(loc[0]["lon"]))
            cache[value] = coord
            locations.extend([coord] * count)
        else:
            cache[value] = None
            not_found += count
    batch.clear()
    return not_found


def nominatim_resolve_all(
    url: str,
    array,
    max_requests: int = MAX_NOMINATIM_REQUESTS,
    fetch=None,
    sleep=time.sleep,
):
    """Resolve a column's values (spatial.py:269-311): dedupe into
    30-value batches, cache per distinct value, skip values over 90
    chars, stop once ``max_requests`` distinct lookups were answered.
    Returns (locations, non_empty) — ``locations`` count-weighted per
    input row, ``non_empty`` the number of non-blank input values."""
    cache: dict[str, tuple | None] = {}
    locations: list[tuple] = []
    non_empty = 0
    batch: dict[str, int] = {}
    for value in array:
        value = (value or "").strip()
        if not value:
            continue
        non_empty += 1
        if len(value) > MAX_ADDRESS_LENGTH:
            continue
        if value in cache:
            if cache[value] is not None:
                locations.append(cache[value])
        elif value in batch:
            batch[value] += 1
        else:
            batch[value] = 1
            if len(batch) == NOMINATIM_BATCH_SIZE:
                _resolve_batch(url, batch, locations, cache, fetch, sleep)
                if len(cache) >= max_requests:
                    break
    if batch and len(cache) < max_requests:
        _resolve_batch(url, batch, locations, cache, fetch, sleep)
    return locations, non_empty


def is_address_column(locations, non_empty: int) -> bool:
    """The reference's ADDRESS decision (core.py:478-484): at least one
    non-empty value and an unresolved ratio of at most 20%."""
    if non_empty <= 0:
        return False
    return 1.0 - len(locations) / non_empty <= MAX_UNCLEAN_ADDRESSES
