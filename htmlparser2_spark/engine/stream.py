"""Streaming write()/end() lifecycle over the one-shot engine.

Mirrors the reference's incremental-parse API surface
(/root/reference/src/Parser.ts:774-800 write/end semantics,
/root/reference/src/WritableStream.ts:18-42 byte-stream adapter whose
StringDecoder keeps split multi-byte UTF-8 intact):

* :class:`StreamingParser` — ``write(chunk)* ; end()`` with
  write-after-end / end-after-end errors exactly like the reference
  (Parser.ts:776-779, 790-793), plus ``reset()`` for instance reuse
  (Parser.ts:713-726).
* :class:`WritableStreamParser` — accepts ``bytes`` chunks split at
  arbitrary byte offsets; an incremental UTF-8 decoder reassembles
  multi-byte sequences that straddle chunk boundaries
  (WritableStream.spec.ts:10-20 is the reference test for this).

Delivery model: like the reference, ``write()`` tokenizes incrementally
— events for every construct that is provably complete in the data so
far are delivered during the ``write()`` call (so createDocumentStream
element callbacks fire as elements close, not only at ``end()``). The
one scan loop, :meth:`Tokenizer.run` with ``final=False``, asks the
tokenizer's own grammar whether a construct is complete: each ``<``
construct is a dry run of the helper that tokenizes it in a whole
document, and its recorded events are delivered only when that helper
ends it before the buffer end. Everything else is deferred: an
unterminated tag/comment/raw-text body, a construct whose last
character is the last buffered one (``write('<!DOCTYPE html>')``
delivers at the next ``write()`` or ``end()``), and trailing text
(text is final only once a ``<`` follows it). The pass suspends at the
first deferred construct, and the ``end()`` pass (``final=True``)
applies EOF semantics from the suspension point.

A ``write()`` runs no pass at all when the input buffered since the
last pass holds no ``<`` and no ``>``, and that pass's buffer did not
end in ``>``. Such a pass could deliver nothing: trailing text needs a
following ``<``, every ``<`` construct ends on a ``>``, and a construct
ending on the last buffered char is the one case that waits a pass. The
check starts where the last pass's buffer ended, not at the chunk, so
data written from a callback counts; ``resume()`` and ``end()`` always
run their pass. So a long tag, comment or text run streamed in small
chunks is tokenized about once, not once per chunk. Two costs remain
per ``write()``: ``self._buf += chunk`` copies the whole buffer, and a
raw-text body dense in ``<`` (a ``<script>`` full of comparisons) is
re-scanned from its ``<script>`` on every pass.

Consequences of that contract:

* The *final* event stream is chunk-invariant, exactly like the
  reference (Parser.events.spec.ts:13-40); text events may split at
  chunk boundaries in both engines and collectors merge them.
* Delivery timing differs from the reference in two ways: a construct
  spanning a chunk boundary is delivered when it completes, not
  re-attempted per character; and one ending exactly at a chunk's end
  waits for the next pass. Only an attribute-less, non-special
  ``<name>`` and an alphanumeric ``</name>`` deliver on their own
  ``>``: the scan loop emits them without a dry run. Any other close
  tag (``</p x>``, ``</my-tag>``) is a dry run of ``_closing_tag`` and
  waits like the rest.
* Per-document memory is O(doc) here, and not in the reference: its
  ``shiftBuffer`` drops each chunk once the tokenizer has consumed it
  (Parser.ts:764-768), while ``self._buf += chunk`` keeps, and copies,
  the whole document.

Custom injected tokenizers (``ParserOptions.tokenizer_class``) fall
back to buffer-and-parse-at-end, since their overridden behavior has no
incremental contract.
"""

from __future__ import annotations

import codecs

from .parser import Parser, ParserOptions

__all__ = [
    "StreamingParser",
    "WritableStreamParser",
    "WebWritableStreamParser",
    "create_document_stream",
]


class StreamingParser:
    """Incremental-input facade: ``write(str)* ; end()``."""

    def __init__(self, handler, options: ParserOptions | None = None) -> None:
        self._parser = Parser(handler, options)
        self._handler = handler
        # Incremental tokenization needs our scan-based Tokenizer's
        # run(final=False) contract; injected custom tokenizers keep the
        # buffer-and-parse-at-end behavior.
        self._incremental = (options is None or options.tokenizer_class is None)
        self._buf = ""
        self._resume = 0
        self._scanned = 0  # len(self._buf) at the last tokenizer pass
        self._started = False
        self._ended = False
        self._paused = False
        self._pumping = False  # reentrancy guard for callback-driven IO
        self._end_pending = False

    def _use_after_end(self, message: str) -> None:
        # Reference: routed to handler.onerror when provided, silently
        # ignored otherwise (`this.cbs.onerror?.(...)`,
        # Parser.ts:776-779, 790-793 — optional chaining, no throw).
        on_error = getattr(self._handler, "on_error", None)
        if on_error is not None:
            on_error(RuntimeError(message))

    def _begin(self) -> None:
        # Lifecycle parity with Parser.parse: onreset/onparserinit fire
        # once at the start of each document (Parser.ts:713-740).
        if not self._started:
            self._parser.reset()
            self._started = True

    def _run(self, final: bool) -> int | None:
        """One tokenizer pass from the resume position; a pause()
        raised from a callback stops it at a construct boundary."""
        self._begin()
        self._parser.buffer = self._buf
        self._scanned = len(self._buf)
        self._pumping = True
        try:
            return self._parser.tokenizer.run(
                self._buf,
                self._resume,
                should_pause=lambda: self._paused,
                final=final,
            )
        finally:
            self._pumping = False

    def _pump(self) -> None:
        """Tokenize as much buffered input as delivery rules allow."""
        self._resume = self._run(False)

    def _may_deliver(self) -> bool:
        """Whether a write() pass could deliver anything (module notes):
        input since the last pass holds a '<' or '>', or that pass's
        buffer ended in '>'."""
        buf, seen = self._buf, self._scanned
        return (buf.endswith(">", 0, seen) or buf.find("<", seen) != -1
                or buf.find(">", seen) != -1)

    def _finish(self) -> None:
        """The EOF pass (resume() continues it after a mid-flush
        pause())."""
        if not self._incremental:
            self._parser.parse(self._buf)
            return
        pos = self._run(True)
        if pos is not None:  # paused mid-finish: resume() re-enters
            self._resume = pos
            self._end_pending = True

    def write(self, chunk: str) -> None:
        if self._ended:
            self._use_after_end(".write() after done!")
            return
        self._buf += chunk
        # A write() from inside a handler callback (self._pumping) only
        # buffers: the outer pass's snapshot can't see the new data, and
        # re-entering the tokenizer from the stale resume position would
        # replay already-delivered constructs.
        if (self._incremental and not self._paused and not self._pumping
                and self._may_deliver()):
            self._pump()
            if self._end_pending and not self._paused:
                # end() arrived from a callback during this pump.
                self._end_pending = False
                self._finish()

    def end(self, chunk: str | None = None) -> None:
        if self._ended:
            self._use_after_end(".end() after done!")
            return
        # Latch immediately, even while paused (reference Parser.end
        # sets ended before the flush), so later write()/end() misuse
        # reports instead of silently splicing data into the document.
        self._ended = True
        if chunk is not None:
            self._buf += chunk
        if self._paused or self._pumping:
            self._end_pending = True
            return
        self._finish()

    def pause(self) -> None:
        """Stop consuming input (backpressure, Parser.ts:805-811).

        Subsequent ``write()`` calls buffer without tokenizing; a call
        from within a handler callback stops the in-flight pass —
        including the ``end()`` flush — at the current construct
        boundary. ``end()`` while paused is deferred until
        :meth:`resume`.
        """
        self._paused = True

    def resume(self) -> None:
        """Resume consumption, replaying buffered input
        (Parser.ts:813-823)."""
        if not self._paused:
            return
        self._paused = False
        if self._pumping:
            # resume() from inside a callback: the outer pass's
            # should_pause now reads False and simply continues — a
            # nested pump would replay from the stale resume position.
            return
        if self._end_pending:
            self._end_pending = False
            self._finish()
            return
        if self._ended:
            return
        if self._incremental and (self._started or self._buf):
            self._pump()
            if self._end_pending and not self._paused:
                # end() arrived from a callback during this pump (same
                # handoff write() performs).
                self._end_pending = False
                self._finish()

    def reset(self) -> None:
        """Reuse the instance for a new document (Parser.ts:713-726)."""
        self._buf = ""
        self._resume = 0
        self._scanned = 0
        self._started = False
        self._ended = False
        self._paused = False
        self._pumping = False
        self._end_pending = False

    def parse_complete(self, data: str) -> None:
        """reset + end(data) — Parser.ts:731-740."""
        self.reset()
        self.end(data)


def create_document_stream(
    callback,
    options: ParserOptions | None = None,
    element_callback=None,
) -> StreamingParser:
    """createDocumentStream-equivalent (/root/reference/src/index.ts:44-55).

    Returns a :class:`StreamingParser` with an attached DOM handler.
    ``element_callback(node_dict)`` fires every time an element
    completes; ``callback(error, nodes)`` fires once at ``end()`` with
    the full adjacency node list (the reference passes the DomHandler
    root; our DOM contract is the flat node list, SURVEY.md §1.3).
    """
    from .dom import DomArrayHandler

    handler = DomArrayHandler(element_callback=element_callback)
    orig_on_end = handler.on_end

    def on_end() -> None:
        orig_on_end()
        callback(None, handler.nodes)

    handler.on_end = on_end  # type: ignore[method-assign]
    sp = StreamingParser(handler, options)
    handler.attach(sp._parser)
    return sp


class WritableStreamParser(StreamingParser):
    """Byte-stream adapter: ``write(bytes)`` at arbitrary split points.

    UTF-8 sequences split across chunks decode correctly via an
    incremental decoder; invalid bytes become U+FFFD (the engine-wide
    ingest policy, matching ``html.decode('utf-8', errors='replace')``
    in the Spark layer).
    """

    def __init__(self, handler, options: ParserOptions | None = None) -> None:
        super().__init__(handler, options)
        self._decoder = codecs.getincrementaldecoder("utf-8")("replace")

    def write(self, chunk: bytes) -> None:  # type: ignore[override]
        super().write(self._decoder.decode(chunk))

    def end(self, chunk: bytes | None = None) -> None:  # type: ignore[override]
        if self._ended:
            # Guard before decoding/writing the final chunk so misuse
            # emits exactly one '.end() after done!' error (the
            # reference's behavior) instead of a '.write() after done!'
            # followed by a second error.
            self._use_after_end(".end() after done!")
            return
        if chunk is not None:
            self.write(chunk)
        tail = self._decoder.decode(b"", final=True)
        if tail:
            super().write(tail)
        super().end()

    def reset(self) -> None:
        super().reset()
        self._decoder.reset()


# The reference ships two byte-stream adapters — Node Writable
# (WritableStream.ts:18-42, StringDecoder) and Web Streams
# (WebWritableStream.ts:23-47, TextDecoder(stream: true)). Both reduce
# to "incremental UTF-8 decode, then write()"; in Python one class
# covers both, so the Web variant is an alias.
WebWritableStreamParser = WritableStreamParser
