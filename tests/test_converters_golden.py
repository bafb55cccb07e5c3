"""Byte-identity port of every expectation in
reference tests/unit/converters.test.ts (the reference's golden-string
suite for the HTML→markdown operator chain C1–C16)."""

from extractor_spark.engine.convert import (
    HtmlExtractionOptions as Opts,
    convert_html_to_markdown,
    html_to_markdown,
)


def test_simple_html_to_markdown():  # converters.test.ts:5-12
    md = html_to_markdown("<h1>Hello World</h1><p>This is a test</p>")
    assert md == "Hello World\n===========\n\nThis is a test"


def test_html_with_attributes():  # :14-21
    md = html_to_markdown(
        '<div class="content"><h2 id="title">Title</h2><p>Paragraph</p></div>'
    )
    assert "Title" in md
    assert "Paragraph" in md


def test_escape_markdown_characters():  # :24-32
    md = html_to_markdown(
        '<a href="https://example.com/meeting-(11-12-24)">Meeting [11-12-24]</a>'
    )
    assert md == "[Meeting \\[11-12-24\\]](https://example.com/meeting-\\(11-12-24\\))"


def test_convert_links():  # :34-39
    md = html_to_markdown('<a href="https://example.com">Example</a>')
    assert md == "[Example](https://example.com)"


def test_discard_images_by_default():  # :41-45
    assert html_to_markdown('<img src="image.jpg" alt="An image">') == ""


def test_discard_images_when_flag_false():  # :47-51
    md = html_to_markdown(
        '<img src="image.jpg" alt="An image">', Opts(include_images=False)
    )
    assert md == ""


def test_include_images_when_true():  # :53-71
    html = (
        '<p>Text with an image: '
        '<img src="https://example.com/image.jpg" alt="Example image"></p>'
    )
    with_images = html_to_markdown(html, Opts(include_images=True))
    without_images = html_to_markdown(html)
    assert "Text with an image:" in with_images
    assert "![Example image](https://example.com/image.jpg)" in with_images
    assert "Text with an image:" in without_images
    assert "![Example image]" not in without_images
    assert "https://example.com/image.jpg" not in without_images


COMPLEX_IMAGES_HTML = """
      <article>
        <h1>Test Article</h1>
        <p>First paragraph with <img src="image1.jpg" alt="First image"> embedded.</p>
        <figure>
          <img src="image2.jpg" alt="Second image">
          <figcaption>Figure caption</figcaption>
        </figure>
        <picture>
          <source srcset="image3-large.jpg" media="(min-width: 800px)">
          <source srcset="image3-medium.jpg" media="(min-width: 400px)">
          <img src="image3.jpg" alt="Third image">
        </picture>
        <p>Final paragraph.</p>
      </article>
    """


def test_complex_html_multiple_images():  # :73-109
    with_images = html_to_markdown(COMPLEX_IMAGES_HTML, Opts(include_images=True))
    assert "![First image](image1.jpg)" in with_images
    assert "![Second image](image2.jpg)" in with_images
    assert "![Third image](image3.jpg)" in with_images
    assert "Figure caption" in with_images
    assert "Test Article" in with_images
    assert "First paragraph" in with_images
    assert "Final paragraph" in with_images

    without_images = html_to_markdown(COMPLEX_IMAGES_HTML)
    assert "![First image]" not in without_images
    assert "![Second image]" not in without_images
    assert "![Third image]" not in without_images


def test_extract_main_content():  # :111-140
    html = """
      <html>
        <body>
          <header>Header content</header>
          <article>
            <h1>Main Content</h1>
            <p>This is the main content</p>
          </article>
          <footer>Footer content</footer>
        </body>
      </html>
    """
    with_extraction = html_to_markdown(html, Opts(extract_main_html=True))
    without_extraction = html_to_markdown(html)
    assert "Main Content" in with_extraction
    assert "This is the main content" in with_extraction
    assert "Header content" not in with_extraction
    assert "Footer content" not in with_extraction
    assert "Header content" in without_extraction
    assert "Main Content" in without_extraction
    assert "Footer content" in without_extraction


class TestUrlHandling:
    def test_relative_to_absolute(self):  # :143-168
        html = """
        <a href="/about">About Us</a>
        <a href="products/item.html">Product</a>
        <a href="../blog/post.html">Blog Post</a>
        <img src="/images/logo.png" alt="Logo">
        <img src="assets/photo.jpg" alt="Photo">
      """
        md = html_to_markdown(
            html, Opts(include_images=True), "https://example.com/company/"
        )
        assert "[About Us](https://example.com/about)" in md
        assert "[Product](https://example.com/company/products/item.html)" in md
        assert "[Blog Post](https://example.com/blog/post.html)" in md
        assert "![Logo](https://example.com/images/logo.png)" in md
        assert "![Photo](https://example.com/company/assets/photo.jpg)" in md

    def test_absolute_urls_unchanged(self):  # :170-187
        html = """
        <a href="https://other-site.com/page">External Link</a>
        <a href="mailto:user@example.com">Email</a>
        <img src="https://cdn.example.com/image.jpg" alt="CDN Image">
      """
        md = html_to_markdown(html, Opts(include_images=True), "https://example.com/")
        assert "[External Link](https://other-site.com/page)" in md
        assert "[Email](mailto:user@example.com)" in md
        assert "![CDN Image](https://cdn.example.com/image.jpg)" in md

    def test_relative_without_source_url(self):  # :189-199
        html = """
        <a href="/about">About Us</a>
        <img src="/images/logo.png" alt="Logo">
      """
        md = html_to_markdown(html, Opts(include_images=True))
        assert "[About Us](/about)" in md
        assert "![Logo](/images/logo.png)" in md

    def test_invalid_urls_graceful(self):  # :201-212
        html = """
        <a href="invalid:url">Invalid Link</a>
        <img src="invalid:url" alt="Invalid Image">
      """
        md = html_to_markdown(html, Opts(include_images=True), "https://example.com/")
        assert "[Invalid Link](invalid:url)" in md
        assert "![Invalid Image](invalid:url)" in md

    def test_clean_amazon_urls(self):  # :215-234
        html = """
          <a href="https://www.amazon.com/Product-Name-Here/dp/ABCDE01234/ref=sr_1_47?dib=abc123&qid=1640995200">Amazon Product</a>
          <a href="https://amazon.ca/Item-Name/dp/B12345/ref=sr_1_1?keywords=test">Amazon CA Product</a>
        """
        md = html_to_markdown(html, Opts(clean_urls=True))
        assert "[Amazon Product](https://www.amazon.com/Product-Name-Here/dp/ABCDE01234)" in md
        assert "[Amazon CA Product](https://amazon.ca/Item-Name/dp/B12345)" in md
        assert "/ref=" not in md
        assert "dib=" not in md
        assert "qid=" not in md

    def test_no_clean_by_default(self):  # :236-246
        html = """
          <a href="https://www.amazon.com/Product-Name-Here/dp/ABCDE01234/ref=sr_1_47?dib=abc123&qid=1640995200">Amazon Product</a>
        """
        md = html_to_markdown(html)
        assert (
            "[Amazon Product](https://www.amazon.com/Product-Name-Here/dp/"
            "ABCDE01234/ref=sr_1_47?dib=abc123&qid=1640995200)" in md
        )

    def test_no_clean_when_flag_false(self):  # :248-258
        html = """
          <a href="https://www.amazon.com/Product-Name-Here/dp/ABCDE01234/ref=sr_1_47?dib=abc123&qid=1640995200">Amazon Product</a>
        """
        md = html_to_markdown(html, Opts(clean_urls=False))
        assert (
            "[Amazon Product](https://www.amazon.com/Product-Name-Here/dp/"
            "ABCDE01234/ref=sr_1_47?dib=abc123&qid=1640995200)" in md
        )

    def test_non_amazon_urls_untouched(self):  # :260-281
        html = """
          <a href="https://example.com/product?utm_source=test&ref=something">Regular Link</a>
          <a href="https://shop.example.com/item/ref=special">Shop Link</a>
          <img src="https://cdn.example.com/image.jpg?v=123&ref=cache" alt="Image">
        """
        md = html_to_markdown(html, Opts(include_images=True, clean_urls=True))
        assert "[Regular Link](https://example.com/product?utm_source=test&ref=something)" in md
        assert "[Shop Link](https://shop.example.com/item/ref=special)" in md
        assert "![Image](https://cdn.example.com/image.jpg?v=123&ref=cache)" in md


class TestConvertHtmlToMarkdown:  # converters.test.ts:286-321
    def test_basic(self):
        md = convert_html_to_markdown("<h1>Hello World</h1><p>This is a test</p>")
        assert "Hello World" in md
        assert "This is a test" in md

    def test_extraction_options(self):
        html = """
      <nav>Navigation</nav>
      <main><h1>Main Content</h1><p>Important text</p></main>
      <footer>Footer</footer>
    """
        md = convert_html_to_markdown(html, Opts(extract_main_html=True))
        assert "Main Content" in md
        assert "Important text" in md

    def test_include_images(self):
        md = convert_html_to_markdown(
            '<div><img src="image.jpg" alt="Test Image"></div>',
            Opts(include_images=True),
        )
        assert "![Test Image]" in md

    def test_source_url_for_relative_links(self):
        md = convert_html_to_markdown(
            '<a href="/about">About</a>', None, "https://example.com"
        )
        assert "https://example.com/about" in md
