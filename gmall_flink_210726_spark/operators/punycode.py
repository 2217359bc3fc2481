"""Punycode / IDNA decoding (RFC 3492) — internationalized domain
names in the crawl front door: a URL-level dedup that treats
``xn--nxasmq6b`` and its Unicode form as different hosts fetches the
same site twice, and homograph analysis needs the decoded code
points. The decoder is the RFC's §6.2 algorithm from scratch:
generalized variable-length integers in base 36, the bias
adaptation function, and insertion-order reconstruction of the
extended code points among the basic ones.

Strictness: only lowercase a-z / 0-9 digits are accepted (DNS
labels are case-folded before decode), overflow and truncated
digit sequences reject, and every produced code point must be
non-basic (>= 0x80) — an encoded-basic 'xn--' label is a spoofing
vector, not a valid IDNA label.

Reference coder (Python's stdlib punycode codec) appears in tests
and fixture synthesis only. Arrow-batched mapInPandas, zero
shuffle.
"""

from __future__ import annotations

_BASE = 36
_TMIN, _TMAX = 1, 26
_SKEW, _DAMP = 38, 700
_INITIAL_BIAS = 72
_INITIAL_N = 128


def _adapt(delta: int, numpoints: int, firsttime: bool) -> int:
    delta = delta // _DAMP if firsttime else delta // 2
    delta += delta // numpoints
    k = 0
    while delta > ((_BASE - _TMIN) * _TMAX) // 2:  # 455
        delta //= _BASE - _TMIN
        k += _BASE
    return k + ((_BASE - _TMIN + 1) * delta) // (delta + _SKEW)


def _digit(ch: str) -> int:
    if "a" <= ch <= "z":
        return ord(ch) - ord("a")
    if "0" <= ch <= "9":
        return ord(ch) - ord("0") + 26
    raise ValueError("punycode: invalid digit")


def punycode_decode(label: str) -> list[int]:
    """RFC 3492 §6.2 -> code points. Raises ValueError on any
    grammar violation."""
    pos = label.rfind("-")
    if pos >= 0:
        basic = label[:pos]
        rest = label[pos + 1 :]
    else:
        basic = ""
        rest = label
    out = []
    for ch in basic:
        cp = ord(ch)
        if cp >= 0x80:
            raise ValueError("punycode: non-basic in basic part")
        out.append(cp)
    n, i, bias = _INITIAL_N, 0, _INITIAL_BIAS
    p = 0
    while p < len(rest):
        oldi = i
        w = 1
        k = _BASE
        while True:
            if p >= len(rest):
                raise ValueError("punycode: truncated digit sequence")
            digit = _digit(rest[p])
            p += 1
            i += digit * w
            if i > 0x7FFFFFFF:
                raise ValueError("punycode: overflow")
            t = max(_TMIN, min(_TMAX, k - bias))
            if digit < t:
                break
            w *= _BASE - t
            if w > 0x7FFFFFFF:
                raise ValueError("punycode: overflow")
            k += _BASE
        npoints = len(out) + 1
        bias = _adapt(i - oldi, npoints, oldi == 0)
        n += i // npoints
        if n > 0x10FFFF:
            raise ValueError("punycode: code point out of range")
        i %= npoints
        out.insert(i, n)
        i += 1
    return out


def idn_decode_label(label: str) -> list[int] | None:
    """One DNS label -> decoded code points: 'xn--' labels go
    through punycode (every produced extended point must be
    non-basic), anything else must be plain LDH ASCII. None on any
    violation."""
    label = label.lower()
    if label.startswith("xn--"):
        try:
            cps = punycode_decode(label[4:])
        except ValueError:
            return None
        # an xn-- label that decodes to pure ASCII is a spoof, and
        # RFC 3492 encoders never emit basic points as extended
        if not any(c >= 0x80 for c in cps):
            return None
        return cps
    if not label or not all(
        c == "-" or "a" <= c <= "z" or "0" <= c <= "9" for c in label
    ):
        return None
    return [ord(c) for c in label]


def idn_host_stats(host: str) -> dict | None:
    """Dot-separated hostname -> per-host decode proof: label count,
    count of IDN (xn--) labels, total code points, code-point sum."""
    labels = host.split(".")
    n_idn = n_cps = cp_sum = 0
    for lab in labels:
        cps = idn_decode_label(lab)
        if cps is None:
            return None
        if lab.lower().startswith("xn--"):
            n_idn += 1
        n_cps += len(cps)
        cp_sum += sum(cps)
    return {
        "n_labels": len(labels),
        "n_idn_labels": n_idn,
        "n_cps": n_cps,
        "cp_sum": cp_sum,
    }


def idn_decode_stats(docs, host_col: str = "host"):
    """Arrow-batched decode over a (doc_id, host) frame."""

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from gmall_flink_210726_spark.operators.multimodal import blob_stats

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("status", StringType()),
            StructField("n_labels", LongType()),
            StructField("n_idn_labels", LongType()),
            StructField("n_cps", LongType()),
            StructField("cp_sum", LongType()),
        ]
    )

    def walk(host: str) -> dict | None:
        st = idn_host_stats(host or "")
        return None if st is None else dict(st, status="ok")

    return blob_stats(
        docs,
        walk,
        schema,
        "",
        defaults={"status": "invalid"},
        cols=("doc_id", host_col),
    )


def synthesize_idn_hosts(docs):
    """(doc_id, host) fixture: ``d{i%10}.xn--<punycode>.test`` where
    the middle label encodes a formula-derived Greek run (prefixed
    with an ASCII 'g{digit}' so the basic/extended mix exercises),
    encoded by the STDLIB punycode codec (reference coder, encoder
    side only). Every 8th id's IDN label gets a '!' injected — an
    invalid digit the decoder must reject."""
    import pandas as pd

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from gmall_flink_210726_spark.operators.multimodal import map_pandas
    from gmall_flink_210726_spark.session import ensure_parallelism

    docs = ensure_parallelism(docs.select("doc_id"))
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("host", StringType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                i = int(did)
                n = 3 + i % 6
                uni = "g" + str(i % 10) + "".join(
                    chr(0x3B1 + (i + k) % 24) for k in range(n)
                )
                enc = uni.encode("punycode").decode("ascii")
                if i % 8 == 0:
                    enc = enc[: len(enc) // 2] + "!" + enc[len(enc) // 2 :]
                out.append(
                    {
                        "doc_id": i,
                        "host": f"d{i % 10}.xn--{enc}.test",
                    }
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in schema.fields]
            )

    return map_pandas(docs, gen, schema)
