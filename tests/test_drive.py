"""Drive ingestion utilities with an injected fetcher (no network)."""

from __future__ import annotations

import json

from lion_parcel_etl_spark.sources.drive import (
    DriveItem,
    download_all,
    folder_id_from_url,
    list_folder,
    list_json_files,
    read_json_file,
)

FOLDER_HTML = """
<html><body>
<a class="flip-entry" data-id="abc123" href="#">
  <div class="flip-entry-title">result-json-0.json</div></a>
<a class="flip-entry" data-id="def456" href="#">
  <div class="flip-entry-title">notes.txt</div></a>
</body></html>
"""

IVD_HTML = (
    "<html><script>window['_DRIVE_ivd'] = '"
    '[[\\"11112222333344445555aaaa\\",null,\\"a.json\\",\\"application/json\\"],'
    '[\\"11112222333344445555aaaa\\",null,\\"a.json\\",\\"application/json\\"],'
    '[\\"99998888777766665555bbbb\\",null,\\"b.json\\",\\"application/json\\"]]'
    "';</script></html>"
)


def test_folder_id_from_url_variants():
    assert folder_id_from_url("https://drive.google.com/drive/folders/XYZ?usp=x") == "XYZ"
    assert folder_id_from_url("https://drive.google.com/open?id=ABC") == "ABC"
    assert folder_id_from_url("rawid123") == "rawid123"


def test_list_folder_anchor_parse():
    items = list_folder("https://x/folders/F", fetch=lambda url: FOLDER_HTML.encode())
    assert [(i.id, i.name) for i in items] == [
        ("abc123", "result-json-0.json"),
        ("def456", "notes.txt"),
    ]
    assert "abc123" in items[0].download_link


def test_list_folder_ivd_fallback_dedupes():
    items = list_folder("F", fetch=lambda url: IVD_HTML.encode())
    assert [(i.name, i.mime_type) for i in items] == [
        ("a.json", "application/json"),
        ("b.json", "application/json"),
    ]


def test_download_all_filters_and_writes(tmp_path):
    payloads = {"j1.json": b'{"x": 1}', "skip.txt": b"no"}
    items = [DriveItem(id=n, name=n) for n in payloads]

    def fetch(url):
        fid = url.rsplit("id=", 1)[1]
        return payloads[fid]

    written = download_all(items, tmp_path, fetch=fetch)
    assert [p.name for p in written] == ["j1.json"]
    assert list_json_files(tmp_path) == written
    assert read_json_file(written[0]) == {"x": 1}


def test_reference_fixture_glob_roundtrip(bonus_json):
    files = list_json_files(bonus_json.path)
    assert len(files) == bonus_json.files
    doc = read_json_file(files[0])
    assert "MetricDataResults" in doc


def test_download_fans_out(tmp_path):
    names = [f"f{i}.json" for i in range(20)]
    items = [DriveItem(id=n, name=n) for n in names]
    seen = []

    def fetch(url):
        seen.append(url)
        return json.dumps({"n": url}).encode()

    written = download_all(items, tmp_path, fetch=fetch, max_workers=4)
    assert len(written) == 20 and len(seen) == 20


def test_download_folder_one_call_end_to_end(tmp_path):
    """S10: the gdown-style one-call path — folder URL in, local files
    out — listing and fetching through the same injectable fetch."""
    from lion_parcel_etl_spark.sources.drive import download_folder

    listing = (
        '<a data-id="abcdefghij1234567890x">'
        '<div class="flip-entry-title">a.json</div></a>'
        '<a data-id="abcdefghij1234567890y">'
        '<div class="flip-entry-title">b.csv</div></a>'
    )
    payloads = {
        "abcdefghij1234567890x": b'{"a": 1}',
        "abcdefghij1234567890y": b"b,c\n1,2\n",
    }

    def fetch(url):
        if "embeddedfolderview" in url:
            return listing.encode()
        return payloads[url.rsplit("id=", 1)[1]]

    url = "https://drive.google.com/drive/folders/FOLDER123?usp=sharing"
    written = download_folder(url, tmp_path, fetch=fetch)
    assert sorted(p.name for p in written) == ["a.json", "b.csv"]
    assert (tmp_path / "a.json").read_bytes() == b'{"a": 1}'
    only_json = download_folder(url, tmp_path / "j", fetch=fetch, suffix=".json")
    assert [p.name for p in only_json] == ["a.json"]


def test_download_transient_errors_retry_within_budget(tmp_path):
    """Truncated bodies / flaky sockets are TRANSIENT: each file gets
    `retries` extra attempts before counting as failed (r06 verdict
    item 6 — failure modes simulated through the injectable fetch)."""
    from http.client import IncompleteRead

    from lion_parcel_etl_spark.sources.drive import download_all

    calls = {"n": 0}

    def flaky(url):
        calls["n"] += 1
        if calls["n"] <= 2:  # first two attempts die mid-body
            raise IncompleteRead(b"partial")
        return b'{"ok": true}'

    items = [DriveItem(id="f1", name="f1.json")]
    written = download_all(items, tmp_path, fetch=flaky, retries=2)
    assert [p.name for p in written] == ["f1.json"]
    assert calls["n"] == 3  # 1 original + 2 retries
    assert read_json_file(written[0]) == {"ok": True}

    # budget exhausted -> raises by default
    calls["n"] = -10  # 10 more failures than the budget allows
    import pytest

    with pytest.raises(IncompleteRead):
        download_all(
            [DriveItem(id="f2", name="f2.json")], tmp_path, fetch=flaky, retries=2
        )


def test_download_quota_403_never_retried_and_skippable(tmp_path):
    """Drive quota refusals cannot succeed on retry within a run:
    assert exactly ONE fetch attempt, and that on_error='skip' lands
    the healthy files while recording the failure for re-queueing."""
    import urllib.error

    from lion_parcel_etl_spark.sources.drive import (
        DriveQuotaError,
        download_all,
    )

    attempts = {"q.json": 0, "ok.json": 0}

    def fetch(url):
        fid = url.rsplit("id=", 1)[1].split("&")[0]
        attempts[fid] += 1
        if fid == "q.json":
            raise urllib.error.HTTPError(url, 403, "Forbidden", {}, None)
        return b"{}"

    items = [DriveItem(id=n, name=n) for n in ("q.json", "ok.json")]
    failures: list = []
    written = download_all(
        items, tmp_path, fetch=fetch, retries=5, on_error="skip",
        failures=failures,
    )
    # HTTP 403 is ambiguous (quota vs rate-limit burst): retried within
    # the budget, then CLASSIFIED as quota for re-queueing
    assert attempts["q.json"] == 6  # 1 + retries(5)
    assert attempts["ok.json"] == 1 and [p.name for p in written] == ["ok.json"]
    assert len(failures) == 1 and failures[0][0].name == "q.json"
    assert isinstance(failures[0][1], DriveQuotaError)

    # the 200-with-HTML quota interstitial IS classified: one attempt only
    attempts2 = {"n": 0}

    def quota_fetch(url):
        attempts2["n"] += 1
        return b"<!DOCTYPE html><html>Quota exceeded for this file</html>"

    failures2: list = []
    out = download_all(
        [DriveItem(id="big.json", name="big.json")], tmp_path,
        fetch=quota_fetch, retries=5, on_error="skip", failures=failures2,
    )
    assert out == [] and attempts2["n"] == 1
    assert isinstance(failures2[0][1], DriveQuotaError)


def test_download_confirm_token_interstitial_follows_once(tmp_path):
    """The large-file virus-scan interstitial (HTML with a confirm=
    token) is followed with exactly ONE extra fetch — the public
    Drive redirect dance; a second interstitial means quota."""
    from lion_parcel_etl_spark.sources.drive import (
        DriveQuotaError,
        download_all,
    )

    seen = []

    def fetch(url):
        seen.append(url)
        if "confirm=" not in url:
            return (
                b"<html>Google Drive can't scan this file for viruses."
                b' <a href="/uc?export=download&confirm=tok123&id=x">'
                b"Download anyway</a></html>"
            )
        assert "confirm=tok123" in url
        return b'{"big": 1}'

    written = download_all(
        [DriveItem(id="x", name="x.json")], tmp_path, fetch=fetch
    )
    assert read_json_file(written[0]) == {"big": 1}
    assert len(seen) == 2 and "confirm=tok123" in seen[1]

    # Post-confirm HTML gets the SAME three-way classification as the
    # first response: a quota marker is a hard DriveQuotaError (one
    # attempt)...
    quota_attempts = {"n": 0}

    def quota_loop_fetch(url):
        if "confirm=" in url:
            quota_attempts["n"] += 1
            return b"<html>Quota exceeded for this file</html>"
        return b'<html><a href="/uc?confirm=tok456&id=y">go</a></html>'

    import pytest

    with pytest.raises(DriveQuotaError):
        download_all(
            [DriveItem(id="y", name="y.json")], tmp_path,
            fetch=quota_loop_fetch, retries=3,
        )
    assert quota_attempts["n"] == 1

    # ...while an unrecognized HTML body behind the hop (a transient
    # splash page) is the retryable ValueError, NOT a quota verdict —
    # so a splash that clears on retry succeeds.
    splash = {"n": 0}

    def splash_then_ok(url):
        if "confirm=" not in url:
            return b'<html><a href="/uc?confirm=tok789&id=z">go</a></html>'
        splash["n"] += 1
        if splash["n"] == 1:
            return b"<html><body>One moment please...</body></html>"
        return b'{"ok": 1}'

    out = download_all(
        [DriveItem(id="z", name="z.json")], tmp_path,
        fetch=splash_then_ok, retries=2,
    )
    assert read_json_file(out[0]) == {"ok": 1} and splash["n"] == 2


def test_download_raise_is_all_or_nothing(tmp_path):
    """on_error='raise' must leave NO partial landing set: files that
    downloaded fine before/alongside the failing item are deleted
    before the first failure re-raises, so a naive re-run can never
    mistake a failed run's directory for a complete load."""
    import pytest

    from lion_parcel_etl_spark.sources.drive import download_all

    items = [DriveItem(id=f"f{i}", name=f"f{i}.json") for i in range(5)]

    def fetch(url):
        if "f3" in url:
            raise ConnectionError("truncated body")
        return b'{"v": 1}'

    with pytest.raises(ConnectionError):
        download_all(items, tmp_path, fetch=fetch, retries=0)
    assert list(tmp_path.glob("*.json")) == []
    assert list(tmp_path.glob(".*.part")) == []  # temp files cleaned too

    # A failed RE-RUN over a previously complete landing directory must
    # not delete the good files from the prior run: downloads stage to
    # temp names and only rename into place after ALL items succeed.
    ok_fetch = lambda url: b'{"v": 1}'  # noqa: E731
    prior = download_all(items, tmp_path, fetch=ok_fetch, retries=0)
    assert len(prior) == 5
    with pytest.raises(ConnectionError):
        download_all(items, tmp_path, fetch=fetch, retries=0)
    survivors = sorted(p.name for p in tmp_path.glob("*.json"))
    assert survivors == [f"f{i}.json" for i in range(5)]
    assert read_json_file(tmp_path / "f3.json") == {"v": 1}
    assert list(tmp_path.glob(".*.part")) == []

    # on_error='skip' keeps the good files (the nightly-ingest contract)
    failures: list = []
    out = download_all(
        items, tmp_path, fetch=fetch, retries=0, on_error="skip",
        failures=failures,
    )
    assert len(out) == 4 and len(failures) == 1
    assert failures[0][0].name == "f3.json"


def test_download_on_error_validation(tmp_path):
    import pytest

    from lion_parcel_etl_spark.sources.drive import download_all

    with pytest.raises(ValueError, match="on_error"):
        download_all([], tmp_path, on_error="ignore")


def test_download_unrecognized_html_never_written_as_data(tmp_path):
    """An HTML body with neither a quota marker nor a confirm token (a
    sign-in page, a changed interstitial) must NEVER be written where a
    data file belongs — it surfaces as a retryable-then-recorded
    failure instead."""
    from lion_parcel_etl_spark.sources.drive import download_all

    attempts = {"n": 0}

    def signin_fetch(url):
        attempts["n"] += 1
        return b"<html><body>Sign in to continue</body></html>"

    failures: list = []
    out = download_all(
        [DriveItem(id="f.json", name="f.json")], tmp_path,
        fetch=signin_fetch, retries=1, on_error="skip", failures=failures,
    )
    assert out == [] and not list(tmp_path.glob("*.json"))
    assert attempts["n"] == 2  # 1 + retries(1): transient classification
    assert isinstance(failures[0][1], ValueError)
