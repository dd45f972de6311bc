"""Driver-side acquisition utilities (SURVEY.md §2.1 src_http_fetch,
src_git_clone).

Reference: /root/reference/scripts/census/zip_codes.py:20-45 streams a
~500 MB zip in 16 MB chunks; federal_house_districts.py:26-57 skips 404s;
people_utils.py:87-103 clones a git data repo. Acquisition is inherently a
driver/landing-zone step, not a distributed op — at scale these land files
onto shared storage and the *decode* is distributed (binaryFile +
mapInPandas, see shapefile.py / file_sources.py)."""

from __future__ import annotations

import os
import shutil
import subprocess
import urllib.error
import urllib.request
import zipfile

CHUNK = 16 * 1024 * 1024  # 16 MB, mirrors zip_codes.py:27-32


def http_fetch(
    url: str, dest: str, skip_missing: bool = True, chunk_size: int = CHUNK
) -> str | None:
    """Streamed download; returns dest, or None on HTTP 404 when
    skip_missing (the reference's partition-skip, house_districts.py:37-39).
    Never buffers the payload in memory."""
    os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
    try:
        with urllib.request.urlopen(url) as resp, open(dest, "wb") as out:
            shutil.copyfileobj(resp, out, length=chunk_size)
    except urllib.error.HTTPError as e:
        if e.code == 404 and skip_missing:
            return None
        raise
    return dest


def extract_zip(archive: str, dest_dir: str) -> list[str]:
    """zip_codes.py:46-47."""
    os.makedirs(dest_dir, exist_ok=True)
    with zipfile.ZipFile(archive) as z:
        z.extractall(dest_dir)
        return [os.path.join(dest_dir, n) for n in z.namelist()]


def git_clone(repo: str, dest: str, depth: int = 1) -> str:
    """people_utils.py:87-103 — shallow clone of a data repo; reuses an
    existing checkout instead of re-downloading (the reference re-clones
    every run, SURVEY §4 anti-pattern)."""
    if os.path.isdir(os.path.join(dest, ".git")):
        return dest
    subprocess.run(
        ["git", "clone", "--depth", str(depth), repo, dest],
        check=True,
        capture_output=True,
    )
    return dest
