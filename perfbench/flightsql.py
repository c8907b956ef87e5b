"""Minimal Flight SQL client over ``pyarrow.flight``, protobuf tier.

Encodes the few Flight SQL messages the workloads send from the public
proto3 wire format and FlightSql.proto, the way a stock client does.
It deliberately shares no code with the server's codec, so a codec
defect cannot hide by being mirrored on both sides.
"""

from __future__ import annotations

import base64
import time

import pyarrow as pa
import pyarrow.flight as flight

_PKG = b"type.googleapis.com/arrow.flight.protocol.sql."
TABLE_NOT_EXIST_CREATE = 1
TABLE_EXISTS_APPEND = 2


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b7, n = n & 0x7F, n >> 7
        if n:
            out.append(b7 | 0x80)
        else:
            out.append(b7)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = val = 0
    while True:
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7


def _bytes_field(num: int, payload: bytes) -> bytes:
    return _varint((num << 3) | 2) + _varint(len(payload)) + payload


def _varint_field(num: int, value: int) -> bytes:
    return _varint(num << 3) + _varint(value)


def _any(name: str, payload: bytes = b"") -> bytes:
    out = _bytes_field(1, _PKG + name.encode())
    return out + _bytes_field(2, payload) if payload else out


def parse_fields(buf: bytes) -> dict[int, list]:
    """One message level: {field number: [values]} (varints as ints,
    length-delimited values as bytes)."""
    out: dict[int, list] = {}
    pos = 0
    while pos < len(buf):
        tag, pos = _read_varint(buf, pos)
        num, wire_type = tag >> 3, tag & 7
        if wire_type == 2:
            size, pos = _read_varint(buf, pos)
            val: int | bytes = buf[pos:pos + size]
            pos += size
        elif wire_type == 0:
            val, pos = _read_varint(buf, pos)
        else:
            raise ValueError(f"unexpected wire type {wire_type}")
        out.setdefault(num, []).append(val)
    return out


def _unpack_any(buf: bytes) -> bytes:
    return parse_fields(buf).get(2, [b""])[0]


def statement_query(sql: str) -> bytes:
    return _any("CommandStatementQuery", _bytes_field(1, sql.encode()))


def prepared_query(handle: bytes) -> bytes:
    return _any("CommandPreparedStatementQuery", _bytes_field(1, handle))


def statement_ingest(table: str, append: bool) -> bytes:
    body = b""
    if append:
        opts = (_varint_field(1, TABLE_NOT_EXIST_CREATE)
                + _varint_field(2, TABLE_EXISTS_APPEND))
        body += _bytes_field(1, opts)
    return _any("CommandStatementIngest", body + _bytes_field(2, table.encode()))


class Client:
    """One closed-loop Flight SQL client: one principal, one session.

    Every call times itself: ``last_s`` is the client-observed time of
    the last operation, from the first request byte to the last result
    batch, and ``last_bytes`` the Arrow bytes it received.
    """

    def __init__(self, port: int, user: str, password: str):
        self.user = user
        self._client = flight.FlightClient(f"grpc://127.0.0.1:{port}")
        token = base64.b64encode(f"{user}:{password}".encode()).decode()
        self._opts = flight.FlightCallOptions(
            headers=[(b"authorization", f"Basic {token}".encode())])
        self.last_s = 0.0
        self.last_bytes = 0

    def close(self) -> None:
        self._client.close()

    def _fetch(self, command: bytes) -> pa.Table:
        info = self._client.get_flight_info(
            flight.FlightDescriptor.for_command(command), options=self._opts)
        tables = [self._client.do_get(ep.ticket, options=self._opts).read_all()
                  for ep in info.endpoints]
        return tables[0] if len(tables) == 1 else pa.concat_tables(tables)

    def query(self, sql: str) -> pa.Table:
        t0 = time.monotonic()
        table = self._fetch(statement_query(sql))
        self.last_s = time.monotonic() - t0
        self.last_bytes = table.nbytes
        return table

    def prepare(self, sql: str) -> bytes:
        body = _any("ActionCreatePreparedStatementRequest",
                    _bytes_field(1, sql.encode()))
        results = list(self._client.do_action(
            flight.Action("CreatePreparedStatement", body), options=self._opts))
        msg = parse_fields(_unpack_any(results[0].body.to_pybytes()))
        return msg[1][0]

    def execute_prepared(self, handle: bytes, params: dict) -> pa.Table:
        """Bind one parameter row with DoPut, then GetFlightInfo + DoGet."""
        t0 = time.monotonic()
        command = prepared_query(handle)
        batch = pa.table({k: [v] for k, v in params.items()})
        writer, reader = self._client.do_put(
            flight.FlightDescriptor.for_command(command), batch.schema,
            options=self._opts)
        writer.write_table(batch)
        writer.done_writing()
        reader.read()
        writer.close()
        table = self._fetch(command)
        self.last_s = time.monotonic() - t0
        self.last_bytes = table.nbytes
        return table

    def ingest(self, table_name: str, data: pa.Table, append: bool) -> int:
        """DoPut CommandStatementIngest; returns the acknowledged count."""
        t0 = time.monotonic()
        writer, reader = self._client.do_put(
            flight.FlightDescriptor.for_command(
                statement_ingest(table_name, append)),
            data.schema, options=self._opts)
        writer.write_table(data)
        writer.done_writing()
        ack = reader.read()
        writer.close()
        self.last_s = time.monotonic() - t0
        self.last_bytes = 0
        # DoPutUpdateResult{record_count = 1}
        return parse_fields(ack.to_pybytes())[1][0]
