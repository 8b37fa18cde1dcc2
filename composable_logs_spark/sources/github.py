"""GitHub Actions artifact source (SURVEY §2.1 S4).

Reference: otel_output_parser/common_helpers/github_helpers.py:15-164 —
paginated listing of a repo's workflow artifacts, filtered to the span
bundle name (``opentelemetry-outputs-v1``), downloaded as zip blobs with
an optional local cache to avoid refetching.

This is a driver-side connector (network I/O, not a Spark op): blobs land
in a cache/landing directory and the Spark side ingests them with
``spanlog.sources.read_spans_from_zip``, which unzips them on the driver
and hands the spans to Spark. The fetcher is injectable so tests run
without network.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path
from typing import Callable, Iterable, Optional

ARTIFACT_NAME = "opentelemetry-outputs-v1"
_PER_PAGE = 100


def _default_fetch(url: str, token: Optional[str]) -> bytes:
    import requests

    headers = {"Accept": "application/vnd.github+json"}
    if token:
        headers["Authorization"] = f"Bearer {token}"
    r = requests.get(url, headers=headers, timeout=30)
    r.raise_for_status()
    return r.content


def list_artifacts(
    repo: str,
    token: Optional[str] = None,
    fetch: Callable[[str, Optional[str]], bytes] = _default_fetch,
) -> list[dict]:
    """Paginated artifact listing; asserts the streamed count matches the
    reported total_count (reference A12, github_helpers.py:28-39)."""
    out: list[dict] = []
    page = 1
    total = None
    while True:
        url = (
            f"https://api.github.com/repos/{repo}/actions/artifacts"
            f"?per_page={_PER_PAGE}&page={page}"
        )
        payload = json.loads(fetch(url, token))
        total = payload["total_count"]
        artifacts = payload.get("artifacts", [])
        out.extend(artifacts)
        if not artifacts or len(out) >= total:
            break
        page += 1
    if len(out) != total:
        raise ValueError(f"pagination mismatch: streamed {len(out)} != reported {total}")
    return out


def github_repo_artifact_zips(
    repo: str,
    cache_dir: Optional[str | Path] = None,
    token: Optional[str] = None,
    artifact_name: str = ARTIFACT_NAME,
    fetch: Callable[[str, Optional[str]], bytes] = _default_fetch,
) -> Iterable[bytes]:
    """Yield zip blobs for every matching artifact; zips are cached by
    artifact id so repeated runs only fetch new ones (reference
    github_helpers.py:108-164)."""
    cache = Path(cache_dir) if cache_dir else None
    if cache:
        cache.mkdir(parents=True, exist_ok=True)
    for art in list_artifacts(repo, token, fetch):
        if art.get("name") != artifact_name or art.get("expired"):
            continue
        key = f"{art['id']}.zip"
        if cache and (cache / key).exists():
            yield (cache / key).read_bytes()
            continue
        blob = fetch(art["archive_download_url"], token)
        if cache:
            (cache / key).write_bytes(blob)
        yield blob
