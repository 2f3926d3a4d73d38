"""Raw-PDF page rasterization via pypdfium2 (public, Apache-2.0/BSD pdfium
binding) -- the open substitute for the reference's licensed PDFix renderer
(/root/reference/src/page_renderer.py:27-89, which draws each page at
``zoom`` into a BGR ndarray for the layout model).

Import-guarded exactly like the paddlex seam: the sandbox ships neither, so
callers get a clear NotImplementedError that extract_series converts into a
per-turn error row. When pypdfium2 IS importable (production image), a real
``%PDF-`` payload renders into page ndarrays and flows through the same
M1-M4 detector pipeline as structured payloads.
"""

from __future__ import annotations

import numpy as np


def _to_rgb(arr: np.ndarray) -> np.ndarray:
    if arr.ndim == 3 and arr.shape[2] == 4:  # BGRA/RGBA -> drop alpha
        arr = arr[:, :, :3]
    return np.ascontiguousarray(arr)


def open_pdf_pages(data: bytes, scale: float = 2.0):
    """Render every page of a PDF byte string AND keep its text layer open:
    returns ``(pages, close)`` where each page dict carries

    * ``image``   -- RGB uint8 ndarray (H x W x 3) at ``scale`` x 72 dpi (the
      reference's ``RenderPage(zoom=...)``, src/page_renderer.py:44-66);
    * ``page_h``  -- raster height in px;
    * ``text_lookup(x0, y0, x1, y1)`` -- the text inside a RASTER-PIXEL
      bbox, read from the PDF text layer (pdfium textpage; the reference
      reads region text through the PDFix SDK's element text,
      src/template_json.py:219-382). Raster px are top-left origin; pdfium
      text coordinates are bottom-left PDF points, so the lookup applies the
      same device->page transform as the geometry kernel (kernels.py F2).

    ``close()`` must be called after extraction (textpages keep the document
    handle alive)."""
    try:
        import pypdfium2 as pdfium
    except ImportError as e:
        raise NotImplementedError(
            "raw-PDF rasterization needs pypdfium2 (pip install pypdfium2); "
            "not shipped in this environment"
        ) from e
    doc = pdfium.PdfDocument(data)
    pages: list[dict] = []
    textpages = []
    try:
        for i in range(len(doc)):
            page = doc[i]
            bitmap = page.render(scale=float(scale))
            arr = _to_rgb(np.asarray(bitmap.to_numpy()))
            try:
                tp = page.get_textpage()
                ph_pts = float(page.get_height())
                textpages.append(tp)
            except Exception:  # pages without a text layer (scans)
                tp, ph_pts = None, float(arr.shape[0]) / float(scale)

            def lookup(x0, y0, x1, y1, _tp=tp, _ph=ph_pts, _s=float(scale)):
                if _tp is None:
                    return ""
                try:
                    got = _tp.get_text_bounded(
                        left=x0 / _s, bottom=_ph - y1 / _s,
                        right=x1 / _s, top=_ph - y0 / _s,
                    )
                    return got or ""
                except Exception:  # noqa: BLE001 -- text is best-effort
                    return ""

            pages.append({
                "page": i + 1, "image": arr,
                "page_h": float(arr.shape[0]), "text_lookup": lookup,
            })
    except Exception:
        doc.close()
        raise

    def close():
        for tp in textpages:
            try:
                tp.close()
            except Exception:  # noqa: BLE001
                pass
        doc.close()

    return pages, close
