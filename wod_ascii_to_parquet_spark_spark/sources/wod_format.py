"""Pure-Python WOD native ASCII decoder (no Spark imports — unit-testable and
picklable into executor tasks).

Format (public NCEI "WOD native" spec, validated against the reference's
bundled fixtures ``src/test/resources/wod/*/*/*.gz``):

- The file is a stream of 80-character lines. A cast record is a contiguous
  byte string: the primary header declares its total byte count; the record
  occupies ``ceil(count/80)`` lines (last line space-padded), and the next
  cast starts on the following line.
- Two primitive encodings:
  * **WOD int**: 1 char = digit count N (``-`` or blank → missing, consumes
    that single char), then N chars of integer.
  * **WOD float**: 1 char = significant figures (``-``/blank → missing,
    single char), 1 char = total figures, 1 char = precision, then
    ``total`` chars of integer (may include sign); value = int / 10^prec.
- Record layout: primary header (version, byte count, cast number, country,
  cruise, year/month/day, time, lat, lon, #levels, profile type, #variables,
  per-variable [code, qc, metadata code/value list]), then optional
  character-data/PI block, secondary-header block, biology block + taxa sets
  (each length-prefixed), then per-level profile data (depth + 2 flags, then
  per variable value + 2 flags, missing values = single ``-``).

One record walk decodes every cast, and it writes columns: each field is
appended straight onto a :class:`CastColumns` buffer (header scalars,
per-cast lists, and the profile flattened into depth and datum columns with
offsets), so a batch becomes nested Arrow arrays (``wod_ascii``) without a
Python object per cast, level or datum. A record that fails to parse is
truncated back out of the buffers and becomes an error row. The walk
starts with :func:`read_header`, which convert's frame task also calls
alone to key each record for the sort.
:func:`parse_cast`, :func:`decode_record` and :func:`iter_casts` are thin
wrappers over the same walk that read one row back as a :class:`RawCast`.

The reference delegates this decoding to the external ``wod-ascii-reader``
library on the DRIVER (``DatasetYearTrain.java:141-209``); here it is a plain
function run on executors.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

LINE_WIDTH = 80


class WodFormatError(ValueError):
    pass


class _Cursor:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: str, pos: int = 0) -> None:
        self.buf = buf
        self.pos = pos

    def take(self, n: int) -> str:
        if self.pos + n > len(self.buf):
            raise WodFormatError(
                f"record truncated at byte {self.pos}, wanted {n} more"
            )
        s = self.buf[self.pos : self.pos + n]
        self.pos += n
        return s

    def wod_int(self) -> int | None:
        c = self.take(1)
        if c in ("-", " "):
            return None
        if not c.isdigit():
            raise WodFormatError(f"bad WOD-int length byte {c!r} at {self.pos - 1}")
        n = int(c)
        if n == 0:
            return None
        digits = self.take(n)
        try:
            return int(digits)
        except ValueError as e:
            raise WodFormatError(f"bad WOD-int digits {digits!r}") from e


@dataclass
class RawCast:
    """Parsed cast as plain Python values matching ``schemas.CAST`` order."""

    dataset: str
    castNumber: int
    cruiseNumber: int | None
    country: str | None
    originatorsCruise: str | None
    originatorsStationCode: str | None
    year: int | None
    month: int | None
    day: int | None
    time: float | None
    latitude: float | None
    longitude: float | None
    profileType: int | None
    attributes: list[tuple[int | None, float | None]]
    biologicalAttributes: list[tuple[int | None, float | None]]
    taxonomicDatasets: list[list[tuple[int | None, float | None]]]
    principalInvestigators: list[tuple[int | None, int | None]]
    variables: list[tuple[int | None, int | None, list[tuple[int | None, float | None]]]]
    depths: list[
        tuple[
            float | None,
            int | None,
            int | None,
            list[tuple[int | None, float | None, int | None, int | None]],
        ]
    ]


#: A profile value's three head bytes (significant figures, total figures,
#: precision) → ``(total, 10**precision)``, for every all-digit head. One
#: lookup replaces the per-byte checks in the profile loop.
_FLOAT_HEAD = {
    f"{s}{t}{p}": (t, 10**p)
    for s in range(10)
    for t in range(10)
    for p in range(10)
}

#: A flag byte → its digit; any other byte reads as a missing flag.
_FLAG = {str(d): d for d in range(10)}


def _bad_float_head(buf: str, pos: int) -> None:
    """Raise the error for a WOD float at ``pos`` whose head is not three
    digits (the value is not missing)."""
    c = buf[pos]
    if not "0" <= c <= "9":
        raise WodFormatError(f"bad WOD-float sig byte {c!r} at {pos}")
    if pos + 2 >= len(buf):
        raise WodFormatError(f"record truncated at byte {pos + 1} of {len(buf)}")
    raise WodFormatError(f"bad WOD-float total/prec {buf[pos + 1]!r}{buf[pos + 2]!r}")


def _int_at(buf: str, pos: int) -> tuple[int | None, int]:
    """The WOD int at ``pos`` and the offset after it."""
    c = buf[pos]
    pos += 1
    if c == "-" or c == " ":
        return None, pos
    if not "0" <= c <= "9":
        raise WodFormatError(f"bad WOD-int length byte {c!r} at {pos - 1}")
    n = ord(c) - 48
    if n == 0:
        return None, pos
    s = buf[pos : pos + n]
    try:
        return int(s), pos + n
    except ValueError as e:
        raise WodFormatError(f"bad WOD-int digits {s!r}") from e


def _float_at(buf: str, pos: int) -> tuple[float | None, int]:
    """The WOD float at ``pos`` and the offset after it."""
    c = buf[pos]
    if c == "-" or c == " ":
        return None, pos + 1
    head = _FLOAT_HEAD.get(buf[pos : pos + 3])
    if head is None:
        _bad_float_head(buf, pos)
    t, div = head
    pos += 3
    raw = buf[pos : pos + t]
    try:
        return int(raw) / div, pos + t
    except ValueError as e:
        raise WodFormatError(f"bad WOD-float digits {raw!r}") from e


def _fixed_int_at(buf: str, pos: int, n: int) -> tuple[int | None, int]:
    """The ``n``-character fixed-width int at ``pos`` (blank → None) and
    the offset after it."""
    s = buf[pos : pos + n].strip()
    try:
        return (int(s) if s else None), pos + n
    except ValueError as e:
        raise WodFormatError(f"bad fixed-width digits {s!r} at {pos}") from e


#: ``read_header(record)[HEADER_KEYS]``: the header fields convert's sort
#: keys come from — year, month, day, time, latitude, longitude.
HEADER_KEYS = slice(4, 10)


def read_header(buf: str) -> tuple:
    """The primary header of a record, version byte through longitude:
    ``(pos, castNumber, country, cruiseNumber, year, month, day, time,
    latitude, longitude)``, ``pos`` the offset of the field after it.

    :func:`_walk` starts with this call, so a record whose header fails
    here fails with the same error in the full decode."""
    pos = 0
    try:
        version = buf[0:1]
        pos = 1
        if not version.isalpha():
            raise WodFormatError(f"bad version byte {version!r}")
        _, pos = _int_at(buf, pos)  # declared byte count (framing applied upstream)
        cast_number, pos = _int_at(buf, pos)
        if cast_number is None:
            raise WodFormatError("missing cast number")
        country = buf[pos : pos + 2]
        pos += 2
        cruise, pos = _int_at(buf, pos)
        year, pos = _fixed_int_at(buf, pos, 4)
        month, pos = _fixed_int_at(buf, pos, 2)
        day, pos = _fixed_int_at(buf, pos, 2)
        time, pos = _float_at(buf, pos)
        lat, pos = _float_at(buf, pos)
        lon, pos = _float_at(buf, pos)
    except IndexError:
        raise WodFormatError(
            f"record truncated at byte {pos} of {len(buf)}"
        ) from None
    return pos, cast_number, country, cruise, year, month, day, time, lat, lon


class CastColumns:
    """Flat column buffers for a batch of decoded records, in
    ``schemas.PARSED`` row order: one slot per record, an ok cast or an
    error row.

    The walk appends each field straight onto its column: the 13 header
    scalars, the per-cast lists (attributes, biology, taxa, PIs, variables
    and their metadata) and the profile flattened into per-level and
    per-datum columns. Every list column carries an offsets buffer that
    starts at 0, so a batch encodes into nested Arrow arrays without a
    Python object per cast, level or datum.
    """

    def __init__(self) -> None:
        self.rows = 0
        #: row index → ``(dataset, castNumber, error)`` of each error row.
        self.errors: dict[int, tuple[str, int, str]] = {}
        # dataset … profileType, in schemas.CAST order.
        self.header: tuple[list, ...] = tuple([] for _ in range(13))
        self.attr_off, self.attr_code, self.attr_value = [0], [], []
        self.bio_off, self.bio_code, self.bio_value = [0], [], []
        self.taxa_off, self.set_off = [0], [0]
        self.taxa_code, self.taxa_value = [], []
        self.pi_off, self.pi_var, self.pi_pi = [0], [], []
        self.var_off, self.var_code, self.var_qc = [0], [], []
        self.meta_off, self.meta_code, self.meta_value = [0], [], []
        self.depth_off, self.depth, self.depth_err, self.depth_orig = [0], [], [], []
        self.data_off, self.data_code, self.data_value = [0], [], []
        self.data_qc, self.data_orig = [], []
        #: the per-cast offsets, one entry per row.
        self.cast_offsets = (
            self.attr_off, self.bio_off, self.taxa_off, self.pi_off,
            self.var_off, self.depth_off,
        )
        #: what the walk appends before it can still fail.
        self.body = (
            self.attr_code, self.attr_value, self.bio_code, self.bio_value,
            self.set_off, self.taxa_code, self.taxa_value, self.pi_var,
            self.pi_pi, self.var_code, self.var_qc, self.meta_off,
            self.meta_code, self.meta_value, self.depth, self.depth_err,
            self.depth_orig, self.data_off, self.data_code, self.data_value,
            self.data_qc, self.data_orig,
        )

    def add_record(self, record: str, dataset: str) -> None:
        """Decode one framed record into the next row; a record that fails
        to parse leaves nothing behind and becomes an error row."""
        mark = [len(b) for b in self.body]
        try:
            _walk(record, dataset, self)
        except WodFormatError as e:
            for b, n in zip(self.body, mark):
                del b[n:]
            self.add_error(dataset, _cast_number_of(record), str(e))
        else:
            self.rows += 1

    def add_error(self, dataset: str, cast_number: int, error: str) -> None:
        """An error row: a null ``ok`` slot (empty lists; ``""`` and ``0``
        in the two non-nullable fields) and the ``err`` entry."""
        self.errors[self.rows] = (dataset, cast_number, error)
        for col, v in zip(self.header, ("", 0)):
            col.append(v)
        for col in self.header[2:]:
            col.append(None)
        for off in self.cast_offsets:
            off.append(off[-1])
        self.rows += 1

    def ok_columns(self) -> list:
        """The ``ok`` struct's columns, nested as the schema is: a leaf is a
        value list, a list column is ``(offsets, child)`` and a struct is a
        list of its fields."""
        return [
            *self.header,
            (self.attr_off, [self.attr_code, self.attr_value]),
            (self.bio_off, [self.bio_code, self.bio_value]),
            (self.taxa_off, (self.set_off, [self.taxa_code, self.taxa_value])),
            (self.pi_off, [self.pi_var, self.pi_pi]),
            (self.var_off, [
                self.var_code, self.var_qc,
                (self.meta_off, [self.meta_code, self.meta_value]),
            ]),
            (self.depth_off, [
                self.depth, self.depth_err, self.depth_orig,
                (self.data_off, [
                    self.data_code, self.data_value, self.data_qc, self.data_orig,
                ]),
            ]),
        ]

    def err_columns(self) -> list:
        """The ``err`` struct's columns, zero-filled under ok rows."""
        cols = [[""] * self.rows, [0] * self.rows, [None] * self.rows]
        for i, row in self.errors.items():
            for col, v in zip(cols, row):
                col[i] = v
        return cols

    def cast(self, i: int) -> RawCast:
        """Ok row ``i`` read back as a :class:`RawCast`."""

        def pairs(off, a, b, j):
            return list(zip(a[off[j] : off[j + 1]], b[off[j] : off[j + 1]]))

        def span(off, j):
            return range(off[j], off[j + 1])

        lo, hi = self.depth_off[i], self.depth_off[i + 1]
        off = self.data_off
        s, e = off[lo], off[hi]
        data = list(zip(
            self.data_code[s:e], self.data_value[s:e],
            self.data_qc[s:e], self.data_orig[s:e],
        ))
        return RawCast(
            *(col[i] for col in self.header),
            attributes=pairs(self.attr_off, self.attr_code, self.attr_value, i),
            biologicalAttributes=pairs(self.bio_off, self.bio_code, self.bio_value, i),
            taxonomicDatasets=[
                pairs(self.set_off, self.taxa_code, self.taxa_value, t)
                for t in span(self.taxa_off, i)
            ],
            principalInvestigators=pairs(self.pi_off, self.pi_var, self.pi_pi, i),
            variables=[
                (self.var_code[v], self.var_qc[v],
                 pairs(self.meta_off, self.meta_code, self.meta_value, v))
                for v in span(self.var_off, i)
            ],
            depths=list(zip(
                self.depth[lo:hi], self.depth_err[lo:hi], self.depth_orig[lo:hi],
                [data[off[k] - s : off[k + 1] - s] for k in range(lo, hi)],
            )),
        )


def _walk(record: str, dataset: str, cols: CastColumns) -> None:
    """Decode one full cast record string (newline-free) onto ``cols``.

    Hot-path form: a monolithic walk over local ``buf``/``pos`` variables
    with the per-level profile loop fully inlined — the per-field
    ``_Cursor`` method dispatch of the original formulation was ~3× the
    cost of the actual decoding (3.9M ``take()`` calls for the 9,390-cast
    XBT fixture). Truncation safety moves from per-read bounds checks to
    (a) ``IndexError`` on single-char reads past the end and (b) the strict
    framing invariant at the bottom: any multi-char slice that silently ran
    short leaves ``pos`` ≠ ``len(record)`` and fails there. Field/error
    SEMANTICS are unchanged (byte-exact on all fixture casts + hypothesis
    round-trip fuzz).

    Values go straight onto the column buffers, so no tuple is built per
    level or datum: container objects allocated per level keep the cyclic
    garbage collector busy for a large share of the decode. A walk that
    raises has appended part of the record's body;
    :meth:`CastColumns.add_record` truncates it away. The header scalars
    and per-cast offsets go on last, once nothing can fail."""
    buf = record
    blen = len(buf)
    head_of = _FLOAT_HEAD.get
    flag_of = _FLAG.get

    def wod_int() -> int | None:
        nonlocal pos
        v, pos = _int_at(buf, pos)
        return v

    def wod_float() -> float | None:
        nonlocal pos
        v, pos = _float_at(buf, pos)
        return v

    def int_chars(n: int) -> int | None:
        nonlocal pos
        v, pos = _fixed_int_at(buf, pos, n)
        return v

    def flag() -> int | None:
        nonlocal pos
        c = buf[pos]
        pos += 1
        return flag_of(c)

    def code_values(codes: list, values: list) -> None:
        for _ in range(wod_int() or 0):
            codes.append(wod_int())
            values.append(wod_float())

    pos, cast_number, country, cruise, year, month, day, time, lat, lon = (
        read_header(buf)
    )
    try:
        n_levels = wod_int() or 0
        profile_type = flag()
        n_vars = int_chars(2) or 0

        var_codes = []
        for _ in range(n_vars):
            vcode = wod_int()
            var_codes.append(vcode)
            cols.var_code.append(vcode)
            cols.var_qc.append(flag())
            code_values(cols.meta_code, cols.meta_value)
            cols.meta_off.append(len(cols.meta_code))

        # Character data & PI block (length-prefixed; skip-safe).
        orig_cruise: str | None = None
        orig_station: str | None = None
        char_bytes = wod_int()
        if char_bytes:
            end = pos + char_bytes
            n_entries = int_chars(1) or 0
            for _ in range(n_entries):
                etype = int_chars(1)
                if etype in (1, 2):
                    ln = int_chars(2) or 0
                    text = buf[pos : pos + ln]
                    pos += ln
                    if etype == 1:
                        orig_cruise = text
                    else:
                        orig_station = text
                elif etype == 3:
                    n_pi = int_chars(2) or 0
                    for _ in range(n_pi):
                        cols.pi_var.append(wod_int())
                        cols.pi_pi.append(wod_int())
                else:
                    pos = end
                    break
            if pos != end:
                pos = end  # defensive: trust the section length prefix

        # Secondary header block.
        sec_bytes = wod_int()
        if sec_bytes:
            end = pos + sec_bytes
            code_values(cols.attr_code, cols.attr_value)
            if pos != end:
                pos = end

        # Biology block + taxonomic sets.
        bio_bytes = wod_int()
        if bio_bytes:
            code_values(cols.bio_code, cols.bio_value)
            n_sets = wod_int() or 0
            for _ in range(n_sets):
                n_ent = wod_int() or 0
                for _ in range(n_ent):
                    cols.taxa_code.append(wod_int())
                    cols.taxa_value.append(wod_float())
                    pos += 2  # qc + originator flags on taxa values
                cols.set_off.append(len(cols.taxa_code))

        # Profile data (the hot loop — fully inlined): per level, depth + 2
        # flags then per-variable value (+2 flags when present).
        depth_append = cols.depth.append
        derr_append = cols.depth_err.append
        dorig_append = cols.depth_orig.append
        code_append = cols.data_code.append
        value_append = cols.data_value.append
        qc_append = cols.data_qc.append
        orig_append = cols.data_orig.append
        off_append = cols.data_off.append
        data_code = cols.data_code
        for _ in range(n_levels):
            c = buf[pos]
            if c == "-" or c == " ":
                pos += 1
                depth_append(None)
                derr_append(None)
                dorig_append(None)
            else:
                head = head_of(buf[pos : pos + 3])
                if head is None:
                    _bad_float_head(buf, pos)
                t, div = head
                pos += 3
                raw = buf[pos : pos + t]
                pos += t
                try:
                    depth_append(int(raw) / div)
                except ValueError as e:
                    raise WodFormatError(f"bad WOD-float digits {raw!r}") from e
                derr_append(flag_of(buf[pos]))
                pos += 1
                dorig_append(flag_of(buf[pos]))
                pos += 1
            for vcode in var_codes:
                c = buf[pos]
                if c == "-" or c == " ":
                    pos += 1
                    continue
                head = head_of(buf[pos : pos + 3])
                if head is None:
                    _bad_float_head(buf, pos)
                t, div = head
                pos += 3
                raw = buf[pos : pos + t]
                pos += t
                try:
                    value_append(int(raw) / div)
                except ValueError as e:
                    raise WodFormatError(f"bad WOD-float digits {raw!r}") from e
                code_append(vcode)
                qc_append(flag_of(buf[pos]))
                pos += 1
                orig_append(flag_of(buf[pos]))
                pos += 1
            off_append(len(data_code))
    except IndexError:
        raise WodFormatError(
            f"record truncated at byte {pos} of {blen}"
        ) from None

    # Strict framing invariant: a correct walk consumes exactly the declared
    # byte count (holds for every cast in the reference's six fixtures); any
    # drift — including a multi-char slice that silently ran short — means a
    # mis-parse and the cast goes to the error channel.
    if pos != blen:
        raise WodFormatError(
            f"cast {cast_number}: consumed {pos} of {blen} bytes"
        )

    for col, v in zip(cols.header, (
        dataset, cast_number, cruise, country, orig_cruise, orig_station,
        year, month, day, time, lat, lon, profile_type,
    )):
        col.append(v)
    cols.attr_off.append(len(cols.attr_code))
    cols.bio_off.append(len(cols.bio_code))
    cols.taxa_off.append(len(cols.set_off) - 1)
    cols.pi_off.append(len(cols.pi_var))
    cols.var_off.append(len(cols.var_code))
    cols.depth_off.append(len(cols.depth))


def parse_cast(record: str, dataset: str) -> RawCast:
    """Decode one full cast record string (newline-free); raises
    :class:`WodFormatError` on a malformed record."""
    cols = CastColumns()
    _walk(record, dataset, cols)
    return cols.cast(0)


def _wod_int_width(value: int) -> int:
    """Bytes occupied by a WOD int on the wire (1 length byte + digits)."""
    return 1 + len(str(value))


def split_records(text: str) -> Iterator[str]:
    """Split a whole decompressed WOD file into cast record strings.

    Streams line-by-line: reads the byte count from each record's first line,
    consumes ``ceil(count/80)`` lines, yields the concatenation trimmed to
    ``count`` bytes. O(record) memory.
    """
    lines = text.splitlines()
    i = 0
    n = len(lines)
    while i < n:
        first = lines[i]
        if not first.strip():
            i += 1
            continue
        cur = _Cursor(first)
        version = cur.take(1)
        if not version.isalpha():
            raise WodFormatError(f"line {i}: expected cast start, got {first[:10]!r}")
        count = cur.wod_int()
        if count is None or count <= 0:
            raise WodFormatError(f"line {i}: bad cast byte count")
        n_lines = -(-count // LINE_WIDTH)
        record = "".join(lines[i : i + n_lines])[:count]
        yield record
        i += n_lines


def _cast_number_of(record: str) -> int:
    """Best-effort cast number of a record that failed to parse: read from
    the header (version byte, byte count, cast number); -1 when the header
    itself is unreadable."""
    try:
        cur = _Cursor(record)
        cur.take(1)
        cur.wod_int()
        return cur.wod_int() or -1
    except WodFormatError:
        return -1


Decoded = tuple[RawCast | None, tuple[str, int, str] | None]


def decode_record(record: str, dataset: str) -> Decoded:
    """``(cast, None)`` or ``(None, (dataset, castNumber, error))`` for one
    framed record — the row :meth:`CastColumns.add_record` writes."""
    cols = CastColumns()
    cols.add_record(record, dataset)
    if cols.errors:
        return None, cols.errors[0]
    return cols.cast(0), None


def stream_error(dataset: str, error: object) -> tuple[str, int, str]:
    """The one error row for a file whose record framing failed: records
    before the failure survive; the rest of the file is lost."""
    return dataset, -1, f"unrecoverable stream error: {error}"


def frame_records(text: str) -> Iterator[tuple[str | None, str | None]]:
    """``(record, None)`` per framed record of a whole decompressed file;
    a framing failure ends the stream with one ``(None, error)``."""
    try:
        for record in split_records(text):
            yield record, None
    except WodFormatError as e:
        yield None, str(e)


def iter_casts(text: str, dataset: str) -> Iterator[Decoded]:
    """Frame a whole decompressed file and decode each record."""
    for record, error in frame_records(text):
        if record is None:
            yield None, stream_error(dataset, error)
        else:
            yield decode_record(record, dataset)
